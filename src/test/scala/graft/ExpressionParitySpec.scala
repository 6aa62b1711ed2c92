package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, FuzzyDedup}
import graft.plans.TextHashExpressions

/** The native single-pass expressions must be value-identical to their
  * higher-order-function reference formulations in [[HofReference]] (which
  * in turn are pinned by the DuckDB oracles).
  */
class ExpressionParitySpec extends AnyFunSuite {
  lazy val spark = GraftSession.get("local[4]", 4)
  private val dir = "/root/testdata/sf0.001"

  private def docs = Tables.documents(spark, dir)

  test("BloomMightContain: interpreted eval == codegen Column path == the filter itself") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.types.LongType
    import org.apache.spark.util.sketch.BloomFilter
    val bf = BloomFilter.create(200, 0.01)
    (0L until 400L by 2L).foreach(bf.putLong)
    val expr = graft.plans.BloomMightContain(
      BoundReference(0, LongType, nullable = false),
      graft.plans.BloomExpressions.serialize(bf)
    )
    // interpreted path (codegen fallback) must agree with the filter object
    // AND with the codegen'd Column path exercised in Round5OpsSpec
    val interpreted = (0L until 400L).map(v => expr.eval(InternalRow(v)).asInstanceOf[Boolean])
    (0L until 400L).foreach { v =>
      assert(interpreted(v.toInt) == bf.mightContainLong(v), s"interpreted eval diverged at $v")
    }
    import spark.implicits._
    val viaColumn = spark
      .range(0, 400)
      .filter(graft.plans.BloomExpressions.mightContain(bf, col("id")))
      .as[Long]
      .collect()
      .toSet
    assert((0L until 400L).filter(v => interpreted(v.toInt)).toSet == viaColumn)
  }

  test("HashedLogit == HOF aggregate over concat(tokens, bigrams) (q110 reference formulation)") {
    import org.apache.spark.sql.Column
    def hofLogit(text: Column): Column = {
      val t = split(text, " +")
      val bigrams = when(
        size(t) >= 2,
        transform(sequence(lit(1), size(t) - 1), i => concat_ws("_", element_at(t, i), element_at(t, i + 1)))
      ).otherwise(array().cast("array<string>"))
      aggregate(
        concat(t, bigrams),
        lit(0L),
        (acc, f) => acc + (graft.functions.Fingerprints.fp8(f) % 17 - 8))
    }
    val diff = docs
      .select(TextHashExpressions.hashedLogit(col("text")).as("a"), hofLogit(col("text")).as("b"))
      .filter(not(col("a") <=> col("b")))
      .count()
    assert(diff == 0)
    import spark.implicits._
    val edge =
      Seq("", "one", "one two", "a b c", "a  b   c", " lead", "trail ", null.asInstanceOf[String])
        .toDF("text")
    val rows = edge
      .select(col("text"), TextHashExpressions.hashedLogit(col("text")).as("a"), hofLogit(col("text")).as("b"))
      .collect()
    rows.foreach { r =>
      val a = if (r.isNullAt(1)) null else r.getLong(1)
      val b = if (r.isNullAt(2)) null else r.getLong(2)
      assert(a == b, s"input='${r.getString(0)}': native $a != reference $b")
    }
  }

  test("WordShingles == HOF shingles") {
    val diff = docs
      .select(Dedup.shingles(col("text")).as("a"), HofReference.shingles(col("text")).as("b"))
      .filter(not(col("a") === col("b")))
      .count()
    assert(diff == 0)
  }

  test("WordShingles edge cases: empty / short / whitespace runs") {
    import spark.implicits._
    val edge = Seq("", "one", "one two", "a b c", "a  b   c", " lead", "trail ").toDF("text")
    val rows = edge
      .select(col("text"), Dedup.shingles(col("text")).as("a"), HofReference.shingles(col("text")).as("b"))
      .collect()
    rows.foreach(r => assert(r.getSeq[String](1) == r.getSeq[String](2), s"input='${r.getString(0)}'"))
  }

  test("MinHashBandKeys == HOF signature banding") {
    val sh = docs
      .select(col("doc_id"), Dedup.shingles(col("text")).as("shingles"))
      .filter(size(col("shingles")) > 0)
    val hof = sh
      .withColumn("hs", transform(col("shingles"), s => HofReference.baseHash(s)))
      .select(col("doc_id"), HofReference.bandKeys(HofReference.minhashSignature(col("hs"))).as("bands"))
    val native = sh.select(col("doc_id"), TextHashExpressions.minhashBandKeys(col("shingles")).as("bands"))
    val a = hof.collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val b = native.collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(a == b)
  }

  test("SpanFingerprints == HOF span fingerprints (corpus + edge cases)") {
    import spark.implicits._
    val corpusDiff = docs
      .select(Dedup.spanFingerprints(col("text")).as("a"), HofReference.spanFingerprints(col("text")).as("b"))
      .filter(not(col("a") === col("b")))
      .count()
    assert(corpusDiff == 0)
    val w = Dedup.SpanTokens
    val edge = Seq(
      "",                                      // 0 tokens
      Seq.fill(w - 1)("t").mkString(" "),      // just under one span
      Seq.fill(w)("t").mkString(" "),          // exactly one
      Seq.fill(2 * w + 3)("t").mkString(" "),  // two spans + ragged tail
      "a  b " + Seq.fill(w)("c").mkString(" ") // whitespace runs
    ).toDF("text")
    edge
      .select(col("text"), Dedup.spanFingerprints(col("text")).as("a"), HofReference.spanFingerprints(col("text")).as("b"))
      .collect()
      .foreach(r => assert(r.getSeq[String](1) == r.getSeq[String](2), s"input='${r.getString(0)}'"))
  }

  test("WinnowMinimizers == HOF winnowing (corpus + edge cases)") {
    import spark.implicits._
    val minsHof = HofReference.winnowSketchCols(col("text"))
    val corpusDiff = docs
      .select(
        graft.plans.TextHashExpressions
          .winnowMinimizers(col("text"), FuzzyDedup.WinK, FuzzyDedup.WinW)
          .as("a"),
        minsHof.as("b")
      )
      .filter(not(col("a") === col("b")))
      .count()
    assert(corpusDiff == 0)
    val k = FuzzyDedup.WinK
    val w = FuzzyDedup.WinW
    val edge = Seq(
      "",                                          // 0 tokens → empty sketch
      Seq.fill(k - 1)("t").mkString(" "),          // just under one k-gram
      Seq.fill(k)("t").mkString(" "),              // exactly one k-gram
      (1 to (k + w - 2)).map("t" + _).mkString(" "),  // < w hashes → single clipped window
      (1 to (k + w - 1)).map("t" + _).mkString(" "),  // exactly w hashes
      (1 to 40).map(i => "t" + (i % 7)).mkString(" "), // repeats → distinct dedup
      "a  b   c " + (1 to 20).map("x" + _).mkString(" ") // whitespace runs
    ).toDF("text")
    edge
      .select(
        col("text"),
        graft.plans.TextHashExpressions.winnowMinimizers(col("text"), k, w).as("a"),
        minsHof.as("b")
      )
      .collect()
      .foreach(r => assert(r.getSeq[Long](1) == r.getSeq[Long](2), s"input='${r.getString(0)}'"))
  }

  test("SimHash60 == HOF simhash") {
    val hof = docs
      .withColumn("hs", transform(split(col("text"), " +"), t => HofReference.baseHash60(t)))
      .select(col("doc_id"), HofReference.simhashFromHashes(col("hs")).as("fp"))
    val native = docs.select(col("doc_id"), TextHashExpressions.simhash60(col("text")).as("fp"))
    val a = hof.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = native.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == b)
  }

  test("native expressions propagate null inputs (no crash, null out)") {
    import spark.implicits._
    val nullText = Seq((1L, null: String), (2L, "three token doc here")).toDF("doc_id", "text")
    val r = nullText
      .select(
        col("doc_id"),
        Dedup.shingles(col("text")).as("sh"),
        TextHashExpressions.minhashBandKeys(Dedup.shingles(col("text"))).as("bands"),
        TextHashExpressions.simhash60(col("text")).as("fp")
      )
      .orderBy("doc_id")
      .collect()
    assert(r(0).isNullAt(1) && r(0).isNullAt(2) && r(0).isNullAt(3), "null text must yield nulls")
    assert(!r(1).isNullAt(1) && !r(1).isNullAt(2) && !r(1).isNullAt(3))
    val nullVec = Seq((1L, null: Array[Double]), (2L, Array(1.0, 2.0))).toDF("id", "v")
    val d = nullVec
      .select(col("id"), graft.plans.VectorExpressions.dotProduct(col("v"), col("v")).as("d"))
      .orderBy("id")
      .collect()
    assert(d(0).isNullAt(1) && d(1).getDouble(1) == 5.0)
  }

  test("DotProduct == HOF aggregate fold") {
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
    val cmp = emb.select(
      graft.plans.VectorExpressions.dotProduct(col("v"), col("v")).as("a"),
      aggregate(zip_with(col("v"), col("v"), (x, y) => x * y), lit(0.0), (acc, x) => acc + x).as("b")
    )
    assert(cmp.filter(not(col("a") === col("b"))).count() == 0)
  }
}
