package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The output contract of [[Bench.stdoutLine]]: the bench runner keeps
  * the last 2000 chars of the run's output and json-parses the line out of
  * them, and every committed BENCH_r*.json compares runs through its keys,
  * key order and number format.
  */
class BenchLineSpec extends AnyFunSuite {

  private val mapper = new ObjectMapper()

  /** The stdout line of the recorded round-18 bench run (`local[32]`,
    * sf0.1): 142 registry rows at 3 decimals. */
  private val r18Line: String = {
    val root = mapper.readTree(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("BENCH_r18.json")))
    root.get("tail").asText().linesIterator.find(_.startsWith("{\"metric\"")).get
  }

  test("reproduces the recorded round-18 line byte for byte") {
    val j       = mapper.readTree(r18Line)
    val q       = j.get("queries")
    val queries = q.fieldNames().asScala.map(k => k -> q.get(k).asDouble()).toSeq
    assert(queries.size == 142)
    val total = j.get("value").asDouble()
    val cpu   = j.get("cpu_sec").asDouble()
    // The line prints rounded per-row walls, but `value` is the sum of the
    // unrounded ones (the printed rows sum to 107.754, not 107.756). Spread
    // that residue evenly over the rows — each moves by ~1.4e-5 s and still
    // prints its recorded value — and the cpu total likewise.
    val dWall = (total - queries.map(_._2).sum) / queries.size
    val rows  = queries.map { case (k, v) => (s"${k}_row", v + dWall, cpu / queries.size) }
    val line  = Bench.stdoutLine(
      rows, j.get("reps").asInt(), j.get("contended").asBoolean(),
      j.get("dirty").asInt(), j.get("sf").asText())
    assert(line == r18Line)
  }

  test("a larger registry degrades to 2 decimals, then to the slowest rows, within 1900 chars") {
    def rowsOf(n: Int) = (1 to n).map(i => (f"q$i%03d_x", 1.0 + i / 1000.0 + 0.0004, 2.0))
    // 140 rows: 3 decimals overflow, 2 decimals fit with every row present
    val two = Bench.stdoutLine(rowsOf(140), 3, contended = false, dirty = 0, "sf0.1")
    assert(two.length <= Bench.LineMaxChars)
    val q2 = mapper.readTree(two).get("queries")
    assert(q2.size == 140 && !two.contains("\"omitted\""))
    assert(two.contains("\"q001\":1.00,") && two.contains("\"q140\":1.14}"))
    // totals never degrade
    assert(two.contains("\"value\":" + "%.3f".formatLocal(java.util.Locale.ROOT, rowsOf(140).map(_._2).sum)))
    assert(two.contains("\"cpu_sec\":280.000,"))
    // 400 rows: only the slowest fit, and the rest are counted
    val top = Bench.stdoutLine(rowsOf(400), 3, contended = true, dirty = 5, "sf0.1")
    assert(top.length <= Bench.LineMaxChars)
    val j    = mapper.readTree(top)
    val kept = j.get("queries").fieldNames().asScala.toSeq
    assert(kept.size >= 10 && kept.size < 400)
    assert(j.get("omitted").asInt() == 400 - kept.size)
    assert(kept.toSet == (400 - kept.size + 1 to 400).map(i => f"q$i%03d").toSet, "kept rows are not the slowest")
    assert(j.get("contended").asBoolean() && j.get("dirty").asInt() == 5)
  }

  test("duplicate short keys throw") {
    val rows = Seq(("q01_a", 1.0, 1.0), ("q01_b", 2.0, 2.0))
    intercept[IllegalArgumentException] {
      Bench.stdoutLine(rows, 3, contended = false, dirty = 0, "sf")
    }
  }
}
