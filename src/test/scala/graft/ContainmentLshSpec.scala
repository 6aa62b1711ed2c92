package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, FuzzyDedup}

/** q105 — containment at corpus scale (banded-MinHash candidates + exact
  * containment verify). Deterministic plumbing pins only: identical texts
  * collide in EVERY band (Jaccard 1 ⇒ all minhashes equal), disjoint texts
  * collide in none beyond hash accident, so the fixture avoids asserting
  * specific band-collision luck at intermediate Jaccard (that probabilistic
  * band behavior is q33/q39's spec territory; the recall trade at high size
  * skew is documented in the operator scaladoc). */
class ContainmentLshSpec extends AnyFunSuite {
  lazy val spark = GraftSession.get("local[4]", 4)

  private lazy val dir: String = {
    import spark.implicits._
    val d = Files.createTempDirectory("graft-containment-lsh").toFile
    val quote =
      "the quick brown fox jumps over the lazy dog while the rain falls softly on the quiet town"
    val docs = Seq(
      (0L, quote, "en", "s0", quote.length.toLong),
      // identical text: Jaccard 1.0 ⇒ every band collides ⇒ candidate for sure
      (1L, quote, "en", "s0", quote.length.toLong),
      // disjoint vocabulary: no shared shingles ⇒ containment 0 even if banded
      (2L, "completely different words about numerical linear algebra and sparse matrix factorization methods in parallel computing",
        "en", "s1", 100L),
      (3L, "yet another unrelated document discussing ocean currents tides and coastal erosion patterns over geological time scales",
        "en", "s1", 100L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.write.mode("overwrite").parquet(s"${d.getAbsolutePath}/documents.parquet")
    d.getAbsolutePath
  }

  test("q105: identical pair is found with containment 1.0; disjoint docs never pair") {
    val got = FuzzyDedup
      .containmentLsh(spark, dir)
      .collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"), r.getAs[Double]("containment")))
    assert(got.toSeq == Seq((0L, 1L, 1.0)), s"got: ${got.toSeq}")
  }

  test("q105 equals q101 on the gate corpus (full recall where dups are high-Jaccard)") {
    val sf = "/root/testdata/sf0.001"
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b", "containment").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val exact = key(Dedup.containment(spark, sf))
    val lsh   = key(FuzzyDedup.containmentLsh(spark, sf))
    assert(exact.nonEmpty, "gate corpus planted no containment pairs — parity would be vacuous")
    assert(lsh == exact, s"lsh=${lsh.size} pairs, exact=${exact.size} pairs; diff=${exact.diff(lsh)}")
  }

  test("q105 plan: band candidate join exchanges only skinny columns (text never shuffles)") {
    val df = FuzzyDedup.containmentLsh(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    // every Exchange in the plan must carry only ids/bands/shingle arrays
    // re-joined by id — the raw text column must not appear in any exchange
    val exchanges = plan.linesIterator.filter(_.contains("Exchange")).toList
    assert(exchanges.nonEmpty)
    assert(!exchanges.exists(_.contains("text#")), s"text rides an exchange:\n${exchanges.mkString("\n")}")
  }
}
