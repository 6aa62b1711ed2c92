package graftbench

import java.nio.file.Files

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession

/** The real pipeline against the benchmark's service under its fault kinds:
  * a page, a detail lookup failing twice, and a POST batch. */
class EtlSpec extends AnyFunSuite with BeforeAndAfterAll {
  private var spark: SparkSession = _

  override def beforeAll(): Unit = spark = GraftSession.get("local[2]", 2)
  override def afterAll(): Unit = spark.stop()

  private val ids = (1L to 30L).map(_ * 7919L)

  private def load(faults: String): Unit = {
    val animals = ids.map(i => s"""{"id": $i, "name": "Cat", "friends": " Dog ,, Otter", "born_at": 1348692957651}""")
    val file = Files.createTempFile("catalog", ".json")
    Files.writeString(file,
      s"""{"page_size": 4, "service_ms": {"page": 1, "detail": 1, "post": 1},
         | "faults": {$faults}, "animals": [${animals.mkString(",")}]}""".stripMargin)
    try BenchTransport.load(file.toFile)
    finally Files.delete(file)
  }

  private def postedIds(run: Map[String, Any]): Seq[Long] = {
    val mapper = new ObjectMapper()
    run("posted").asInstanceOf[Vector[String]].flatMap { body =>
      val arr = mapper.readTree(body)
      (0 until arr.size()).map(i => arr.get(i).get("id").asLong())
    }
  }

  test("no record is lost or duplicated under the fault schedule") {
    load(s""""page:3": 1, "detail:${ids(5)}": 2, "post:${ids(20)}": 1""")
    val run = Etl.run(spark, "2026-01-01 00:00:00")
    assert(run("error") == null)
    assert(postedIds(run).sorted == ids)
    val statuses = run("attempts").asInstanceOf[Vector[Map[String, Any]]]
      .groupBy(_("key")).map { case (k, as) => k -> as.map(_("status")).toSet }
    assert(statuses("page:3") == Set(503, 200))
    assert(statuses(s"detail:${ids(5)}") == Set(503, 200))
  }

  test("state is reset between runs") {
    load("")
    val first  = Etl.run(spark, "2026-01-01 00:00:00")
    val second = Etl.run(spark, "2026-01-01 00:00:00")
    assert(postedIds(first).sorted == ids && postedIds(second).sorted == ids)
  }
}
