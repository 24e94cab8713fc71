package graft

import org.scalatest.funsuite.AnyFunSuite

/** Tripwire for [[Verify.serialFirst]]: every gate whose body touches
  * streaming / file-watch / backup machinery must run in Verify's serial
  * phase — a future streaming gate added to SparkEntry but not to the
  * list would otherwise run inside the parallel pool. Lambda bodies are
  * not inspectable at runtime, so this scans the SOURCE of SparkEntry
  * (the single file where every gate lives) for the markers; cancels
  * (does not fail) if the source tree is not present at test time. */
class VerifySerialSpec extends AnyFunSuite {
  test("serialFirst covers every streaming/watch/backup gate") {
    val src = new java.io.File("src/main/scala/graft/SparkEntry.scala")
    assume(src.exists(), "source tree not present")
    val full = java.nio.file.Files.readString(src.toPath)
    // scan only the queries map — the trailing oracleSql SQL strings
    // would otherwise be swallowed into the last entry's chunk
    val cut = full.indexOf("lazy val oracleSql")
    assert(cut > 0, "oracleSql declaration not found — scan broken?")
    val text = full.substring(0, cut)
    // no trailing `{`: a single-expression gate (`-> ((s, dir) => expr)`)
    // must start its own chunk, not be swallowed into the previous one
    val entry = """"(q\d+[a-z0-9_]*)" -> \(\(s, dir\) =>""".r
    // split the queries map into (name, body) chunks on entry boundaries
    val starts = entry.findAllMatchIn(text).toVector
    val markers = Seq("writeStream", "readStream", ".asStream", "streamQuery",
      "backup", "restore", ".watch(", "watchAggregate", "queryEachBatch")
    val flagged = starts.zipWithIndex.flatMap { case (m, i) =>
      val end = if (i + 1 < starts.length) starts(i + 1).start else text.length
      val body = text.substring(m.start, end)
      if (markers.exists(body.contains)) Some(m.group(1)) else None
    }.toSet
    assert(flagged.nonEmpty, "marker scan found no streaming gates — scan broken?")
    val missing = flagged -- Verify.serialFirst
    assert(missing.isEmpty,
      s"streaming/stateful gates missing from Verify.serialFirst: $missing")
    val stale = Verify.serialFirst -- flagged
    assert(stale.isEmpty,
      s"Verify.serialFirst names gates with no streaming markers: $stale")
  }
}
