package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Pins the one session config every main and this suite run under. */
class GraftSessionSpec extends SparkSpec {

  /** Bench's builder before the factory existed, key for key (also
    * perfbench's session minus its local/warehouse dirs). */
  private def graded(cpus: Int): Map[String, String] = Map(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.buffer.pageSize" -> "4m",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.codegen.cache.maxEntries" -> "4000",
    "spark.sql.codegen.maxFields" -> "1024",
    "spark.ui.enabled" -> "false")

  test("conf(cpus) is the graded Bench config") {
    Seq(4, 32).foreach(cpus => assert(GraftSession.conf(cpus) == graded(cpus)))
  }

  test("extra overrides a pinned key and adds an unpinned one") {
    val c = GraftSession.conf(4,
      "spark.sql.adaptive.enabled" -> "false", "spark.rdd.compress" -> "true")
    assert(c == graded(4) ++ Map(
      "spark.sql.adaptive.enabled" -> "false", "spark.rdd.compress" -> "true"))
  }

  test("the test fixture runs every pinned key at 4 cores") {
    graded(4).foreach { case (k, v) =>
      assert(spark.conf.get(k) == v, s"SparkSpec.session $k")
    }
  }

  test("no session builder outside GraftSession") {
    val builder = """SparkSession\s*\.\s*builder""".r
    val root = Paths.get(sys.props("user.dir"))
    val offenders = Seq("src/main/scala", "src/test/scala").flatMap { dir =>
      val d = root.resolve(dir)
      assert(Files.isDirectory(d), s"$d: run from the repository root")
      Files.walk(d).iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .filterNot(_.getFileName.toString == "GraftSession.scala")
        .filter((f: Path) => builder.findFirstIn(Files.readString(f)).isDefined)
        .map(root.relativize(_).toString).toSeq
    }
    assert(offenders.isEmpty,
      s"build sessions through GraftSession.build, not in: ${offenders.mkString(", ")}")
  }
}
