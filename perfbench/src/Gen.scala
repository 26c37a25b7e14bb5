package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.time.LocalDate
import java.util.SplittableRandom

import graft.etl.FlightSchema

/** Seeded input generators. Every generator is a pure function of its
  * seed and size arguments: the same seed writes byte-identical files.
  * The engine only ever sees the files; the truth each generator plants
  * is computed here, independently of Spark, and checked against the
  * engine's answers. */
object Gen {

  private def writer(f: File): BufferedWriter = {
    f.getParentFile.mkdirs()
    new BufferedWriter(new OutputStreamWriter(new FileOutputStream(f), StandardCharsets.UTF_8), 1 << 16)
  }

  // ---------------------------------------------------------------- flights

  /** What `FlightPipeline.run` must report for a generated file. */
  final case class FlightTruth(
    droppedColumns: Seq[String],
    totalRows: Long,
    exactDupGroups: Long,
    rowsAfterDedup: Long,
    compoundDupGroups: Long,
    validity: Map[String, Long],
    gapDays: Seq[LocalDate],
    bytes: Long)

  val flightAsOfYear = 2008
  private val carriers = Seq("AA", "UA", "DL", "WN", "US", "NW", "CO", "B6", "AS", "MQ")
  private val airports = Seq("ATL", "ORD", "DFW", "LAX", "DEN", "PHX", "IAH", "LAS", "DTW", "MSP",
    "SFO", "EWR", "MCO", "SLC", "BOS", "JFK", "SEA", "CLT", "PHL", "LGA",
    "BWI", "MDW", "SAN", "TPA", "DCA", "IAD", "MIA", "PDX", "STL", "HNL")
  private val cols = FlightSchema.schema.fieldNames.toIndexedSeq
  private val ix: Map[String, Int] = cols.zipWithIndex.toMap

  /** `HHmm` integer → (hour, minute) exactly as the reference's SQL
    * derives them ('24xx' → hour 0, fewer than 3 digits → hour 0,
    * 3 digits → first digit, else first two; minute = last two chars);
    * None when the result is not a valid clock time. */
  def hhmm(t: Int): Option[(Int, Int)] = {
    val s = t.toString
    val h = if (s.take(2) == "24" || s.length < 3) "00" else if (s.length == 3) s.take(1) else s.take(2)
    val m = s.takeRight(2)
    (h.toIntOption, m.toIntOption) match {
      case (Some(hh), Some(mm)) if hh >= 0 && hh < 24 && mm >= 0 && mm < 60 && !m.contains('-') => Some((hh, mm))
      case _ => None
    }
  }

  def date(y: Integer, m: Integer, d: Integer): Option[LocalDate] =
    if (y == null || m == null || d == null) None
    else scala.util.Try(LocalDate.of(y.intValue, m.intValue, d.intValue)).toOption

  private def clock(rng: SplittableRandom): Int = rng.nextInt(24) * 100 + rng.nextInt(60)

  /** A flight CSV in the reference's 29-column schema with planted
    * truth: `TailNum` is alphanumeric everywhere (so the explicit
    * IntegerType makes it all-null and the completeness rule drops it),
    * exact duplicate rows, rows that share the compound flight key but
    * differ elsewhere, out-of-range values for every validity rule,
    * `HHmm` quirks (2400, 1–3 digit times) and one calendar day with no
    * flights. */
  def flights(seed: Long, nBase: Int, out: File): FlightTruth = {
    val rng = new SplittableRandom(seed)
    val first = LocalDate.of(2007, 10, 1)
    val nDays = 123 // through 2008-01-31: January rows fail year_past
    val missing = 5 + rng.nextInt(nDays - 10)
    val days = (0 until nDays).filter(_ != missing).map(first.plusDays(_))
    val I = ix
    def base(i: Int): Array[AnyRef] = {
      val r = new Array[AnyRef](cols.size)
      def put(c: String, v: Int): Unit = r(I(c)) = Integer.valueOf(v)
      val d = days(rng.nextInt(days.size))
      put("Year", d.getYear); put("Month", d.getMonthValue); put("DayofMonth", d.getDayOfMonth)
      put("DayOfWeek", d.getDayOfWeek.getValue)
      val crsDep = clock(rng)
      put("CRSDepTime", crsDep)
      val cancelled = rng.nextInt(50) == 0
      val elapsed = 40 + rng.nextInt(300)
      val crsArr = ((crsDep / 100 * 60 + crsDep % 100 + elapsed) % 1440) match { case m => m / 60 * 100 + m % 60 }
      put("CRSArrTime", crsArr)
      r(I("UniqueCarrier")) = carriers(rng.nextInt(carriers.size))
      put("FlightNum", i + 1)
      val o = rng.nextInt(airports.size)
      r(I("Origin")) = airports(o)
      r(I("Dest")) = airports((o + 1 + rng.nextInt(airports.size - 1)) % airports.size)
      put("CRSElapsedTime", elapsed)
      put("Distance", 100 + elapsed * 7 + rng.nextInt(50))
      put("Cancelled", if (cancelled) 1 else 0)
      put("Diverted", 0)
      if (cancelled) r(I("CancellationCode")) = Seq("A", "B", "C")(rng.nextInt(3))
      else {
        val depDelay = rng.nextInt(90) - 10
        val depMin = crsDep / 100 * 60 + crsDep % 100 + depDelay
        // 2400 is the reference data's spelling of midnight.
        val dep = if (depMin == 1440 || rng.nextInt(400) == 0) 2400
          else { val m = ((depMin % 1440) + 1440) % 1440; m / 60 * 100 + m % 60 }
        put("DepTime", dep)
        put("DepDelay", depDelay)
        val arrDelay = depDelay + rng.nextInt(30) - 15
        val arrMin = (crsArr / 100 * 60 + crsArr % 100 + arrDelay + 1440) % 1440
        put("ArrTime", arrMin / 60 * 100 + arrMin % 60)
        put("ArrDelay", arrDelay)
        put("ActualElapsedTime", elapsed + arrDelay - depDelay)
        put("AirTime", elapsed - 20)
        put("TaxiIn", 3 + rng.nextInt(15)); put("TaxiOut", 5 + rng.nextInt(25))
        if (arrDelay >= 15) {
          put("CarrierDelay", arrDelay / 3); put("WeatherDelay", 0); put("NASDelay", arrDelay / 3)
          put("SecurityDelay", 0); put("LateAircraftDelay", arrDelay - 2 * (arrDelay / 3))
        }
      }
      r
    }
    val rows = scala.collection.mutable.ArrayBuffer.tabulate(nBase)(base)
    val tails = scala.collection.mutable.ArrayBuffer.tabulate(nBase)(_ =>
      "N" + (100 + rng.nextInt(900)) + ('A' + rng.nextInt(26)).toChar + ('A' + rng.nextInt(26)).toChar)
    // Per-rule validity failures: out-of-range (never null) values.
    val bad: Seq[(String, () => Int)] = Seq(
      "Month" -> (() => if (rng.nextBoolean()) 0 else 13),
      "DayofMonth" -> (() => if (rng.nextBoolean()) 0 else 32),
      "DayOfWeek" -> (() => if (rng.nextBoolean()) 0 else 8),
      "DepTime" -> (() => if (rng.nextBoolean()) 0 else 2401 + rng.nextInt(500)),
      "CRSDepTime" -> (() => 2401 + rng.nextInt(500)),
      "ArrTime" -> (() => if (rng.nextBoolean()) 0 else 2500 + rng.nextInt(100)),
      "CRSArrTime" -> (() => 2401 + rng.nextInt(500)),
      "Distance" -> (() => -rng.nextInt(5)))
    for ((c, v) <- bad; _ <- 0 until (nBase / 2000 + 1 + rng.nextInt(20))) {
      val i = rng.nextInt(nBase)
      if (!(c.endsWith("Time") && rows(i)(I(c)) == null)) rows(i)(I(c)) = Integer.valueOf(v())
    }
    for (_ <- 0 until nBase / 3000 + 1) {
      val i = rng.nextInt(nBase)
      rows(i)(I("FlightNum")) = Integer.valueOf(-(i + 1))
    }
    // Compound-key duplicates: same Origin/UniqueCarrier/FlightNum and
    // departure, different destination and delays.
    for (_ <- 0 until nBase / 500 + 1) {
      val i = rng.nextInt(nBase)
      val r = rows(i).clone()
      r(I("Dest")) = airports(rng.nextInt(airports.size))
      r(I("Distance")) = Integer.valueOf(101 + rng.nextInt(3000))
      rows += r; tails += tails(i)
    }
    // Exact duplicates: one or two extra copies of a row.
    for (_ <- 0 until nBase / 200 + 1) {
      val i = rng.nextInt(rows.size)
      for (_ <- 0 to rng.nextInt(2)) { rows += rows(i).clone(); tails += tails(i) }
    }
    // Shuffle (Fisher–Yates) so duplicates are not adjacent.
    val order = Array.range(0, rows.size)
    for (i <- order.indices.reverse) {
      val j = rng.nextInt(i + 1); val t = order(i); order(i) = order(j); order(j) = t
    }
    val w = writer(out)
    try {
      w.write(cols.mkString(",")); w.write('\n')
      val tailIx = I("TailNum")
      for (k <- order) {
        val r = rows(k)
        var c = 0
        while (c < cols.size) {
          if (c > 0) w.write(',')
          if (c == tailIx) w.write(tails(k))
          else if (r(c) != null) w.write(r(c).toString)
          c += 1
        }
        w.write('\n')
      }
    } finally w.close()

    // Truth, from the rows as the explicit schema parses them. The
    // TailNum slot of every row is null, as the schema reads it.
    type Row = scala.collection.immutable.ArraySeq[AnyRef]
    val counts = rows.groupMapReduce(r => scala.collection.immutable.ArraySeq.unsafeWrapArray(r))(_ => 1)(_ + _)
    val distinct = counts.keys.toSeq
    val Seq(year, month, dom, dep, fnum, origin, carrier) =
      Seq("Year", "Month", "DayofMonth", "DepTime", "FlightNum", "Origin", "UniqueCarrier").map(I)
    def int(r: Row, c: Int): Integer = r(c).asInstanceOf[Integer]
    def day(r: Row) = date(int(r, year), int(r, month), int(r, dom))
    def ts(r: Row): Option[(LocalDate, Int, Int)] =
      for (d <- day(r); t <- Option(int(r, dep)); hm <- hhmm(t.intValue)) yield (d, hm._1, hm._2)
    val compound = distinct.groupBy(r => (r(origin), r(carrier), r(fnum), ts(r))).count(_._2.size > 1)
    def fails(c: String, ok: Int => Boolean): Long = {
      val k = I(c)
      distinct.count(r => r(k) != null && !ok(int(r, k).intValue)).toLong
    }
    def range(lo: Int, hi: Int)(v: Int) = v >= lo && v <= hi
    val validity = Map(
      "year_past" -> fails("Year", _ < flightAsOfYear),
      "month_range" -> fails("Month", range(1, 12)),
      "dayofmonth_range" -> fails("DayofMonth", range(1, 31)),
      "dayofweek_range" -> fails("DayOfWeek", range(1, 7)),
      "deptime_range" -> fails("DepTime", range(1, 2400)),
      "crsdeptime_range" -> fails("CRSDepTime", range(1, 2400)),
      "arrtime_range" -> fails("ArrTime", range(1, 2400)),
      "crsarrtime_range" -> fails("CRSArrTime", range(1, 2400)),
      "flightnum_pos" -> fails("FlightNum", _ > 0),
      "distance_pos" -> fails("Distance", _ > 0))
    val dates = distinct.flatMap(day).toSet
    val gaps = Iterator.iterate(dates.min)(_.plusDays(1)).takeWhile(!_.isAfter(dates.max))
      .filterNot(dates.contains).toSeq
    FlightTruth(Seq("TailNum"), rows.size.toLong, counts.count(_._2 > 1).toLong,
      distinct.size.toLong, compound.toLong, validity, gaps, out.length())
  }

  // ----------------------------------------------------------------- corpus

  /** `planted` holds every (source id, variant id) near-duplicate pair
    * the generator wrote; the source id is always the smaller. */
  final case class Corpus(shards: Seq[File], docs: Seq[(Long, String)], planted: Set[(Long, Long)],
                          bytes: Long)

  /** A document corpus staged as `nShards` single-file JSON-lines shards.
    * Every doc draws its words from a shared vocabulary; about one doc
    * in six has a near-duplicate variant with one word substituted that
    * lands in a later shard than its source, so the streaming ingest
    * must find it against the index built from earlier batches. With
    * 40–99 words per doc, one substitution keeps the 3-word-shingle
    * Jaccard similarity at 0.85 or more, so 16 bands of 4 ideal
    * min-wise hashes would miss a planted pair with probability below
    * 1e-5. */
  def corpus(seed: Long, nShards: Int, docsPerShard: Int, dir: File): Corpus = {
    val rng = new SplittableRandom(seed)
    val vocab = IndexedSeq.fill(3000) {
      val n = 3 + rng.nextInt(6)
      new String(Array.fill(n)(('a' + rng.nextInt(26)).toChar))
    }
    def words(n: Int) = Vector.fill(n)(vocab(rng.nextInt(vocab.size)))
    val total = nShards * docsPerShard
    val ids = Array.range(0, total).map(i => 1000L + i * 7L)
    val byShard = Array.fill(nShards)(scala.collection.mutable.ArrayBuffer.empty[(Long, String)])
    val planted = Set.newBuilder[(Long, Long)]
    var next = 0
    for (s <- 0 until nShards; _ <- 0 until docsPerShard if next < total) {
      if (byShard(s).size < docsPerShard) {
        val text = words(40 + rng.nextInt(60))
        val src = ids(next)
        byShard(s) += src -> text.mkString(" "); next += 1
        if (s < nShards - 1 && rng.nextInt(6) == 0 && next < total) {
          val edited = text.updated(rng.nextInt(text.size), vocab(rng.nextInt(vocab.size)))
          val t = s + 1 + rng.nextInt(nShards - 1 - s)
          if (byShard(t).size < docsPerShard) {
            byShard(t) += ids(next) -> edited.mkString(" "); planted += src -> ids(next); next += 1
          }
        }
      }
    }
    val files = byShard.indices.map { s =>
      val f = new File(dir, f"shard-$s%03d.json")
      val w = writer(f)
      try byShard(s).foreach { case (id, t) => w.write(s"""{"id":$id,"text":"$t"}\n""") }
      finally w.close()
      f
    }
    Corpus(files, byShard.toSeq.flatten, planted.result(), files.map(_.length).sum)
  }
}
