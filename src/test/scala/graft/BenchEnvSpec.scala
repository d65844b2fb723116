package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench-harness hygiene tests (round-4 postmortem: 36 GiB of orphaned WAL
  * caches on tmpfs + an all-or-nothing JSON output meant a SIGKILLed bench
  * left nothing). */
class BenchEnvSpec extends AnyFunSuite {

  private def mkTmp(): java.io.File = {
    val d = java.nio.file.Files.createTempDirectory("benchenv").toFile
    d.deleteOnExit(); d
  }

  test("vacuum removes stale WAL caches and old scratch, keeps the live key") {
    val root = mkTmp()
    def mk(name: String, ageMs: Long = 0): java.io.File = {
      val f = new java.io.File(root, name)
      f.mkdirs()
      new java.io.File(f, "x").createNewFile()
      if (ageMs > 0) f.setLastModified(System.currentTimeMillis() - ageMs)
      f
    }
    val day = 24L * 60 * 60 * 1000
    val keep = BenchEnv.walKey(2000000L, 4, 120, 480)
    mk(keep, ageMs = 2 * day)                  // current key: kept at ANY age
    val otherLive = BenchEnv.walKey(16000000L, 4, 120, 480)
    mk(otherLive)                              // other config, warm (<3h): keep
    mk(BenchEnv.walKey(1000000L, 4, 120, 480), ageMs = day) // dead config: drop
    mk("wal-8000000-4-p64", ageMs = day)       // legacy ScalingBench key: drop
    mk("mor3-fresh")                           // live run's scratch: keep
    mk("warm-old", ageMs = 2L * 60 * 60 * 1000) // crashed run's scratch: drop
    mk("unrelated-dir")                        // never touched
    BenchEnv.vacuum(root.getAbsolutePath, keep)
    val left = root.listFiles().map(_.getName).toSet
    assert(left == Set(keep, otherLive, "mor3-fresh", "unrelated-dir"))
  }

  test("walKey is shared by Bench and ScalingBench configs (one cache)") {
    assert(BenchEnv.walKey(2000000L, 4, 120, 480)
      == "graft-bench-wal-2000000-4-w120-480-p64")
  }

  test("partial JSON: every flush leaves a complete parseable file") {
    val dir = mkTmp()
    val path = new java.io.File(dir, "p.json").getAbsolutePath
    val p = new BenchEnv.Partial(path)
    p.root.put("metric", "total")
    p.flush()
    p.root.putObject("queries").put("q1", 1.5)
    p.flush()
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val n = mapper.readTree(new java.io.File(path))
    assert(n.get("metric").asText() == "total")
    assert(n.get("queries").get("q1").asDouble() == 1.5)
    assert(p.render.contains("\"q1\":1.5"))
  }

  test("benchRoot falls back to tmpdir when the working set exceeds free shm") {
    // a working set far beyond any real machine's tmpfs must route to disk
    val huge = Long.MaxValue / 5200 // workingSetBytes multiplies by 1300*4
    assert(!BenchEnv.benchRoot(huge).startsWith("/dev/shm"))
  }

  /** `file:line: text` of every line of `src/main/scala` that `offends`,
    * in files not `exempt` (given the path and all its lines). */
  private def scanMain(exempt: (java.nio.file.Path, Seq[String]) => Boolean)(
      offends: String => Boolean): List[String] = {
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"run from the repo root: $root")
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap { f =>
        val lines = java.nio.file.Files.readAllLines(f).asScala.toSeq
        if (exempt(f, lines)) Nil
        else lines.zipWithIndex.collect {
          case (l, i) if offends(l) => s"$f:${i + 1}: ${l.trim}"
        }
      }.toList
  }

  test("only main programs and their BenchEnv harness read env vars or system properties") {
    // library behaviour is fixed in code: a knob read at the point of use
    // is a second code path nobody benchmarks. java.io.tmpdir is exempt.
    val read = """sys\.env|sys\.props|System\.getenv|System\.getProperty""".r
    val offenders = scanMain((f, lines) =>
      f.getFileName.toString == "BenchEnv.scala" || lines.exists(_.contains("def main("))) {
      l => read.findFirstIn(l.replace("sys.props(\"java.io.tmpdir\")", "")).isDefined
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("only LakeTable writes data files or builds a Snapshot") {
    // the file layout (bucket dirs, snapshot dirs, codec) and the snapshot
    // commit have one home: a second copy drifts from the first
    val layout = """partitionBy\("_bucket"\)|"data/snap-|option\("compression"|\bSnapshot\(""".r
    val offenders = scanMain((f, _) =>
      f.endsWith(java.nio.file.Paths.get("lake", "LakeTable.scala"))) {
      l => layout.findFirstIn(l).isDefined
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
