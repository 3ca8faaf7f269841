package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every entry point's session comes from `LocalSession`, so the pinned
  * conf cannot drift between `Bench`, `Verify`, `ScaleLadder` and
  * `Profile`. A pure source scan: no Spark session needed. */
class LocalSessionSpec extends AnyFunSuite {

  test("SparkSession.builder appears in exactly one file under src/main") {
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main"))
    val builders =
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala
          .filter(p => p.toString.endsWith(".scala") &&
            java.nio.file.Files.readString(p).contains("SparkSession.builder"))
          .map(_.toString).toSeq
      } finally walk.close()
    assert(builders == Seq("src/main/scala/graft/LocalSession.scala"),
      s"build sessions through graft.LocalSession; builders found in: " +
        builders.mkString(", "))
  }

  test("LocalSession.conf pins master, shuffle partitions, UTC, UI off, AQE on") {
    assert(LocalSession.conf(7).toMap == Map(
      "spark.master" -> "local[7]",
      "spark.sql.shuffle.partitions" -> "7",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.sql.adaptive.enabled" -> "true"))
    assert(LocalSession.conf(7).size == 5)
  }
}
