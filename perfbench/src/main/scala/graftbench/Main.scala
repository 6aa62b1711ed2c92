package graftbench

import java.io.File
import java.lang.management.ManagementFactory

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.GraftSparkBridge
import org.apache.spark.sql.SparkSession

import graft.{GraftSession, Tables}

/** The benchmark's JVM side, started by `perfbench/run.py`:
  *
  *  - `gen --data DIR --sf X --cores N` writes the query workloads' tables;
  *  - `run --workload queries|etl ...` sets up a session, runs one cold
  *    pass, one unmeasured warm-up pass while the JIT settles, then warm
  *    passes for `--seconds` (at least `--min-passes`), sets the session up
  *    `SettleSetups` + `EndSetups` more times, and writes every measurement
  *    to `--out` as JSON.
  *
  * One driver thread keeps one query or one pipeline run in flight. With
  * `--trace 1` every other warm pass records Spark job and task events; the
  * passes in between run untraced, which gives the tracing overhead.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val opts = args.tail.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cores = opts("cores").toInt
    args.head match {
      case "gen" =>
        val spark = GraftSession.get(s"local[$cores]", cores)
        DataGen.write(spark, new File(opts("data")), opts("sf").toDouble)
        spark.stop()
      case "run" =>
        val result = run(opts, cores)
        val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
        mapper.writeValue(new File(opts("out")), result)
    }
  }

  // Set-up is timed once when the JVM starts and EndSetups times after the
  // passes, in a warm JVM; the reported set-up time is the median of all.
  // In about one run in three the first set-ups after the passes run up to
  // twice as slow, for up to ten of them, so SettleSetups go untimed first.
  private val SettleSetups = 8
  private val EndSetups    = 6
  private val WarmupPasses = 1

  private def run(opts: Map[String, String], cores: Int): Map[String, Any] = {
    val etl = opts("workload") == "etl"
    val (firstRead, operation): (SparkSession => Unit, (SparkSession, Boolean) => Seq[Map[String, Any]]) =
      if (etl) {
        BenchTransport.load(new File(opts("catalog")))
        (Etl.firstRead, (s, _) => Seq(Etl.run(s, opts("as-of"))))
      } else {
        val dir = opts("data")
        val coldOrder = opts("cold-queries").split(',').toSeq
        val order     = opts("queries").split(',').toSeq
        (s => Tables.lineitem(s, dir).limit(1).collect(),
          (s, cold) => (if (cold) coldOrder else order).map(Queries.run(s, dir, _, digest = cold)))
      }

    // Set-up: session creation through the first read. The first session
    // stays up for the passes.
    var spark: SparkSession = null
    def setUp(): Double = {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = GraftSession.get(s"local[$cores]", cores)
      firstRead(spark)
      (System.nanoTime() - t0) / 1e9
    }
    val firstSetupS = setUp()
    val sc       = spark.sparkContext
    val listener = new BenchListener
    sc.addSparkListener(listener)

    val trace     = opts("trace") == "1"
    val seconds   = opts("seconds").toDouble
    val minPasses = opts("min-passes").toInt
    val passes    = Vector.newBuilder[Map[String, Any]]
    var done      = 0 // passes run: the cold one, the warm-up ones, the measured ones
    var warm      = 0 // measured passes
    var warmS     = 0.0
    // No measured pass starts after 120 s of JVM uptime once two are done:
    // a slow machine then ends the run in time with fewer warm passes.
    def inTime = warm < 2 || ManagementFactory.getRuntimeMXBean.getUptime < 120000
    while (inTime && (warm == 0 || warmS < seconds || warm < minPasses)) {
      val cold     = done == 0
      val measured = done > WarmupPasses
      val traced   = trace && measured && warm % 2 == 0
      listener.recording.set(traced)
      val cpu0 = listener.cpuNs.get
      val t0us = Clock.nowUs()
      val t0   = System.nanoTime()
      val items = operation(spark, cold)
      val wall = (System.nanoTime() - t0) / 1e9
      val t1us = Clock.nowUs()
      GraftSparkBridge.drainListenerBus(sc)
      val cpu = (listener.cpuNs.get - cpu0) / 1e9
      listener.recording.set(false)
      val recorded = if (traced) listener.takeRecorded() else Map.empty
      passes += Map(
        "kind" -> (if (cold) "cold" else if (measured) "warm" else "warmup"), "traced" -> traced,
        "t_us" -> Seq(t0us, t1us), "wall_s" -> wall, "cpu_s" -> cpu, "heap_mb" -> Clock.retainedHeapMb(),
        "items" -> items) ++ recorded
      if (measured) { warmS += wall; warm += 1 }
      done += 1
    }
    (1 to SettleSetups).foreach(_ => setUp())
    val setupS = firstSetupS +: Vector.fill(EndSetups)(setUp())
    spark.stop()
    Map("cores" -> cores, "setup_s" -> setupS, "passes" -> passes.result())
  }
}
