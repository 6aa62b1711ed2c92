package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.operators.Dedup.SpanTokens
import graft.operators.FuzzyDedup.{BandSize, Coeffs, NumBands, P, SimhashBits, WinK, WinW}

/** Higher-order-function reference formulations of the native text-hash
  * expressions. Each is semantically identical to its native twin and
  * written the way the DuckDB oracle SQL is; ExpressionParitySpec pins the
  * native expressions against them. Interpreted lambdas make them O(tokens²)
  * or O(m·w), which is why the native expressions exist.
  */
object HofReference {

  /** [[graft.operators.Dedup.shingles]]: distinct word trigrams. */
  def shingles(text: Column): Column = {
    val toks = split(text, " +")
    when(size(toks) < 3, array().cast("array<string>")).otherwise(
      array_distinct(
        transform(
          sequence(lit(1), size(toks) - 2),
          i => concat_ws(" ", element_at(toks, i), element_at(toks, i + 1), element_at(toks, i + 2))
        )
      )
    )
  }

  /** [[graft.operators.Dedup.spanFingerprints]]: md5 of each complete
    * `SpanTokens`-token span. Each lambda invocation rebuilds a slice +
    * concat_ws + md5 tree, interpreted. */
  def spanFingerprints(text: Column): Column = {
    val t      = split(text, " +")
    val nSpans = call_function("div", size(t).cast("long"), lit(SpanTokens.toLong))
    when(nSpans < 1, array().cast("array<string>")).otherwise(
      transform(
        sequence(lit(0L), nSpans - 1),
        j => md5(concat_ws(" ", slice(t, (j * SpanTokens + 1).cast("int"), lit(SpanTokens))))
      )
    )
  }

  /** H(s): first 8 md5 hex chars → uint32 as long ([[graft.functions.Fingerprints.fp8]]). */
  def baseHash(c: Column): Column = graft.functions.Fingerprints.fp8(c)

  /** H60(s): first 15 md5 hex chars → 60-bit long (SimHash base;
    * [[graft.functions.Fingerprints.fp15]]). */
  def baseHash60(c: Column): Column = graft.functions.Fingerprints.fp15(c)

  /** All K minhash values from a PRE-HASHED shingle array (`baseHash` per
    * element, materialized once — inlining it here would re-run md5 inside
    * each of the K expressions). */
  def minhashSignature(hsCol: Column): Seq[Column] =
    Coeffs.map { case (a, b) =>
      array_min(transform(hsCol, h => (lit(a) * h + lit(b)) % lit(P)))
    }

  /** Band keys: signature rows grouped BandSize at a time into strings. */
  def bandKeys(sig: Seq[Column]): Column =
    array(
      (0 until NumBands).map { b =>
        concat_ws(":", (lit(b) +: sig.slice(b * BandSize, (b + 1) * BandSize)): _*)
      }: _*
    )

  /** 60-bit SimHash from a PRE-HASHED token array (`baseHash60` per token). */
  def simhashFromHashes(hsCol: Column): Column = {
    val bits = (0 until SimhashBits).map { b =>
      val balance = aggregate(
        hsCol,
        lit(0L),
        (acc, h) => acc + when(shiftright(h, b) % 2 === 1, 1L).otherwise(-1L)
      )
      when(balance >= 0, lit(1L << b)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** [[graft.operators.FuzzyDedup.winnowSketchTable]]'s `mins` sketch
    * column over a text column. (Its `m`, the k-gram count, is the same
    * Column formula in main, so a reference for it would check nothing.) */
  def winnowSketchCols(text: Column): Column = {
    val toks = split(text, " +")
    val kgramHashes = when(size(toks) < WinK, array().cast("array<bigint>")).otherwise(
      transform(
        sequence(lit(1), size(toks) - (WinK - 1)),
        i =>
          graft.functions.Fingerprints
            .fp15(concat(lit("win:"), concat_ws(" ", slice(toks, i, lit(WinK)))))
      )
    )
    when(size(kgramHashes) === 0, array().cast("array<bigint>")).otherwise(
      array_distinct(
        transform(
          sequence(lit(1), greatest(size(kgramHashes) - (WinW - 1), lit(1))),
          j => array_min(slice(kgramHashes, j, lit(WinW)))
        )
      )
    )
  }
}
