package graft

/** The session contract every main inherits from [[Graft.localSession]],
  * read off the shared test session (built by the same call), plus a
  * tripwire that keeps it the ONE session builder under src/main: a main
  * that builds its own session drifts from the conf every gate and
  * timing assumes. */
class SessionSpec extends SparkSpec {
  test("localSession: partitions = cores, AQE, codegen cache, nanos, UTC") {
    val conf = spark.conf
    val cores = spark.sparkContext.master match {
      case s"local[$n]" => n.toInt
      case other => fail(s"not a local[n] master: $other")
    }
    assert(conf.get("spark.sql.shuffle.partitions") == cores.toString)
    assert(conf.get("spark.sql.adaptive.enabled") == "true")
    assert(conf.get("spark.sql.codegen.cache.maxEntries") == "8192")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
  }

  // scans the source; cancels (does not fail) if the source tree is not
  // present at test time
  test("exactly one SparkSession.builder() call under src/main/scala") {
    val root = new java.io.File("src/main/scala")
    assume(root.isDirectory, "source tree not present")
    val walk = java.nio.file.Files.walk(root.toPath)
    val calls = try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
        .flatMap { p =>
          "SparkSession\\.builder\\(\\)".r
            .findAllMatchIn(java.nio.file.Files.readString(p)).map(_ => p.toString)
        }
    } finally walk.close()
    assert(calls == Seq("src/main/scala/graft/Graft.scala"),
      s"SparkSession.builder() call sites: $calls")
  }
}
