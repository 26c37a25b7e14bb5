package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{Tables, TestSpark}
import graft.ext.{Dedup, Similarity}

/** The codegen'd kernel expressions must be drop-in replacements:
  * bit-identical to the higher-order-function forms they accelerate,
  * registered through GraftExtensions, and evaluated inside whole-stage
  * codegen (no interpreted fallback).
  */
class GraftFunctionsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("GraftExtensions registers every kernel of its table") {
    val names = graft.GraftExtensions.kernels.map(_._1.funcName)
    assert(names.nonEmpty && names.distinct == names)
    names.foreach(n => assert(spark.catalog.functionExists(n), s"$n is not registered"))
  }

  test("graft_dot is bit-identical to the zip_with/aggregate fold on real embeddings") {
    val e = Tables.embeddings(spark, TestSpark.sf0001)
    val a = e.select(col("vec_id").as("id_a"), col("embedding").as("v_a"))
    val b = e.select((col("vec_id") - 1).as("id_a"), col("embedding").as("v_b"))
    val both = a.join(b, Seq("id_a"))
      .select(
        call_function("graft_dot", col("v_a"), col("v_b")).as("fast"),
        Similarity.dot(col("v_a"), col("v_b")).as("slow"))
      .collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
             java.lang.Double.doubleToLongBits(r.getDouble(1)),
        s"fast=${r.getDouble(0)} slow=${r.getDouble(1)} must be bit-equal")
    }
  }

  test("graft_dot nulls on length mismatch, like zip_with's null padding") {
    import spark.implicits._
    val df = Seq((Seq(1.0, 2.0), Seq(1.0, 2.0, 3.0))).toDF("a", "b")
    val r = df.select(call_function("graft_dot", col("a"), col("b"))).first()
    assert(r.isNullAt(0))
  }

  test("graft_dot propagates a null ELEMENT to null, like the fold") {
    import spark.implicits._
    val df = Seq((Seq[Option[Double]](Some(1.0), None), Seq[Option[Double]](Some(1.0), Some(2.0))))
      .toDF("a", "b")
    val r = df.select(
      call_function("graft_dot", col("a"), col("b")).as("fast"),
      graft.ext.Similarity.dot(col("a"), col("b")).as("slow")).first()
    assert(r.isNullAt(0) && r.isNullAt(1))
  }

  test("graft_minhash_bands matches the higher-order fold exactly") {
    val docs = Tables.documents(spark, TestSpark.sf0001).limit(100)
    val params = Dedup.MinHashParams()
    val rows = params.numHashes / params.bands
    val hs = Dedup.shingleHashes(Dedup.shingles(col("text"), params.shingleSize))
    val P = 2147483647L
    // The HOF form, spelled out independently of Dedup.minhashBandsHof.
    val slow = transform(sequence(lit(0), lit(params.bands - 1)), j =>
      aggregate(sequence(j * rows, j * rows + (rows - 1)), lit(1125899907L),
        (acc, i) => pmod(acc * 31 +
          coalesce(array_min(transform(col("hs"), h =>
            pmod(pmod(i.cast("long") * lit(2654435761L) + lit(1L), lit(P)) * h +
                 pmod(i.cast("long") * lit(40503L) + lit(7L), lit(P)), lit(P)))), lit(P)),
          lit(P))))
    val both = docs.select(col("doc_id"), hs.as("hs"))
      .select(
        call_function("graft_minhash_bands", col("hs"),
          lit(params.bands), lit(rows)).as("fast"),
        slow.as("slow"))
      .collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1),
        s"band hashes diverge: ${r.getSeq[Long](0)} vs ${r.getSeq[Long](1)}")
    }
  }

  test("graft_shingle_hashes matches the split/transform/distinct/xxhash64 chain") {
    val docs = Tables.documents(spark, TestSpark.sf0001)
      .select(col("text"))
      .union(spark.sql("SELECT '' AS text"))          // empty text
      .union(spark.sql("SELECT 'one two' AS text"))   // fewer tokens than k
      .union(spark.sql("SELECT 'a  b c' AS text"))    // double space → empty token
    val both = docs.select(
        call_function("graft_shingle_hashes", col("text"), lit(3)).as("fast"),
        Dedup.shingleHashes(Dedup.shingles(col("text"), 3)).as("slow"))
      .collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1),
        s"shingle hashes diverge: ${r.getSeq[Long](0).take(5)} vs ${r.getSeq[Long](1).take(5)}")
    }
  }

  test("graft_shingle_hashes keeps BOTH values when distinct shingles collide mod P") {
    import org.apache.spark.unsafe.types.UTF8String
    import org.apache.spark.sql.catalyst.expressions.XXH64
    val P = 2147483647L
    def h(s: String): Long = {
      val u = UTF8String.fromString(s)
      val x = XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes(), 42L)
      ((x % P) + P) % P
    }
    // Birthday-search two distinct tokens with equal post-mod-P hash
    // (space 2^31; 400k deterministic candidates → expected ~37
    // collisions). The dedup key is the SHINGLE, not the hash: the
    // HOF twin (array_distinct on shingles → hash) keeps both equal
    // values, and the kernel must mirror that exactly.
    val seen = new scala.collection.mutable.HashMap[Long, String]()
    var pair: Option[(String, String)] = None
    var i = 0
    while (pair.isEmpty && i < 400000) {
      val t = "tok" + i
      seen.put(h(t), t) match {
        case Some(prev) if prev != t => pair = Some((prev, t))
        case _ => ()
      }
      i += 1
    }
    assert(pair.nonEmpty, "no mod-P collision in 400k tokens — widen the search")
    val (t1, t2) = pair.get
    val both = spark.sql(s"SELECT '$t1 $t2' AS text")
      .select(
        call_function("graft_shingle_hashes", col("text"), lit(1)).as("fast"),
        Dedup.shingleHashes(Dedup.shingles(col("text"), 1)).as("slow"))
      .first()
    assert(both.getSeq[Long](0).size == 2,
      s"kernel must keep both colliding shingles ($t1, $t2)")
    assert(both.getSeq[Long](0) == both.getSeq[Long](1),
      "kernel and HOF twin diverge on a mod-P collision")
  }

  test("graft_winnow_packed is the hex bijection of graft_winnow, element for element") {
    // Packing is order-preserving (lexicographic 8-hex == unsigned
    // numeric), so the packed kernel must select the SAME fingerprints
    // in the SAME order — lpad(lower(hex(v)), 8, '0') recovers
    // graft_winnow's output exactly. Real corpus + degenerate cases.
    val docs = Tables.documents(spark, TestSpark.sf0001)
      .select(col("text"))
      .union(spark.sql("SELECT '' AS text"))         // shorter than k
      .union(spark.sql("SELECT 'exactly9!' AS text")) // fewer than w k-grams
      .union(spark.sql("SELECT CAST(NULL AS STRING) AS text"))
      // Non-ASCII: exercises the codepoint (non-byte-slice) path —
      // multi-byte chars make numBytes != numChars.
      .union(spark.sql("SELECT 'héllo wörld ünïcode tęst dæta ßharp' AS text"))
    val both = docs.select(
        transform(call_function("graft_winnow_packed", col("text"), lit(8), lit(4)),
          v => lpad(lower(hex(v)), 8, "0")).as("packed_hex"),
        call_function("graft_winnow", col("text"), lit(8), lit(4)).as("str"))
      .collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      if (r.isNullAt(1)) assert(r.isNullAt(0), "null text must stay null")
      else assert(r.getSeq[String](0) == r.getSeq[String](1),
        s"packed/string winnow diverge: ${r.getSeq[String](0).take(4)} vs ${r.getSeq[String](1).take(4)}")
    }
  }

  test("graft_might_contain agrees with the driver-side probe on every key, nulls drop") {
    import org.apache.spark.util.sketch.BloomFilter
    val orders = Tables.orders(spark, TestSpark.sf0001)
    val bf = orders.where(col("o_orderstatus") === "P")
      .stat.bloomFilter("o_orderkey", 1000, 0.01)
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    val probed = orders
      .select(col("o_orderkey"),
        call_function("graft_might_contain", col("o_orderkey"),
          lit(bos.toByteArray)).as("m"))
      .collect()
    assert(probed.nonEmpty)
    // Hard-0 gate: expression == BloomFilter.mightContainLong, every key.
    probed.foreach { r =>
      assert(r.getBoolean(1) == bf.mightContainLong(r.getLong(0)),
        s"probe diverges for key ${r.getLong(0)}")
    }
    import spark.implicits._
    val nullKey = Seq(Option.empty[Long]).toDF("k")
      .select(call_function("graft_might_contain", col("k"), lit(bos.toByteArray)))
      .first()
    assert(nullKey.isNullAt(0), "null key must be null (dropped by WHERE)")
  }

  test("graft_cms_estimate agrees with the driver-side estimateCount on every item") {
    import org.apache.spark.util.sketch.CountMinSketch
    val events = Tables.events(spark, TestSpark.sf0001)
    val bytes = events
      .agg(count_min_sketch(col("event_type"), lit(0.001), lit(0.99), lit(42)))
      .head().getAs[Array[Byte]](0)
    val cms = CountMinSketch.readFrom(new java.io.ByteArrayInputStream(bytes))
    val probed = events.where(col("event_type").isNotNull)
      .select(col("event_type")).distinct()
      .select(col("event_type"),
        call_function("graft_cms_estimate", col("event_type"), lit(bytes)).as("est"))
      .collect()
    assert(probed.nonEmpty)
    probed.foreach { r =>
      assert(r.getLong(1) == cms.estimateCount(r.getString(0)),
        s"estimate diverges for item ${r.getString(0)}")
    }
  }

  test("graft_winnow matches the kgramHashes/winnowSelect chain exactly") {
    import scala.util.chaining._
    val docs = Tables.documents(spark, TestSpark.sf0001)
      .select(col("text"))
      .union(spark.sql("SELECT '' AS text"))          // empty text
      .union(spark.sql("SELECT 'tiny' AS text"))      // shorter than k
      .union(spark.sql("SELECT 'exactly9!' AS text")) // fewer k-grams than w
      .union(spark.sql("SELECT CAST(NULL AS STRING) AS text"))
    // The HOF side needs the barrier (winnowSelect's inlining caveat);
    // the kernel side is a single expression.
    val slow = docs
      .withColumn("hs", Dedup.kgramHashes(col("text"), 8))
      .pipe(graft.ext.Checkpoints.stage)
      .select(col("text"), Dedup.winnowSelect(col("hs"), 4).as("slow"))
    val both = slow
      .select(call_function("graft_winnow", col("text"), lit(8), lit(4)).as("fast"),
        col("slow"))
      .collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      if (r.isNullAt(1)) assert(r.isNullAt(0), "null text must be null on both paths")
      else assert(r.getSeq[String](0) == r.getSeq[String](1),
        s"winnow diverges: ${r.getSeq[String](0).take(5)} vs ${r.getSeq[String](1).take(5)}")
    }
  }

  test("sketch probes run inside whole-stage codegen") {
    val orders = Tables.orders(spark, TestSpark.sf0001)
    val bf = orders.limit(10).stat.bloomFilter("o_orderkey", 100, 0.01)
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    val plan = orders
      .where(call_function("graft_might_contain", col("o_orderkey"), lit(bos.toByteArray)))
      .queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l => l.contains("Filter") && l.contains("*(")),
      s"graft_might_contain Filter not inside a codegen stage:\n$plan")
  }

  test("kernel expressions run inside whole-stage codegen") {
    val e = Tables.embeddings(spark, TestSpark.sf0001)
    val plan = e.select(call_function("graft_dot", col("embedding"), col("embedding")))
      .queryExecution.executedPlan.toString
    // The `*(n)` prefix marks operators fused into a WholeStageCodegen
    // stage; the Project evaluating graft_dot must carry it (an
    // interpreted-fallback expression would break the fusion).
    assert(plan.linesIterator.exists(l => l.contains("Project") && l.contains("*(")),
      s"graft_dot Project not inside a codegen stage:\n$plan")
  }
}
