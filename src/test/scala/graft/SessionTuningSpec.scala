package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the r15 data-derived shuffle width: grows with bytes (2 MiB
  * grain), independent of core count at small inputs (so low/high-core
  * runs compare task-for-task), capped into the guide's partition-size
  * range at scale, sizes URIs through the Hadoop FileSystem, and falls
  * back to the core count when the input size is unknowable. The tile
  * count the ordered-scan core takes from that width is capped at 4096.
  */
class SessionTuningSpec extends AnyFunSuite {

  private def dirOf(bytes: Long): String = {
    val d = java.nio.file.Files.createTempDirectory("stune").toFile
    d.deleteOnExit()
    val f = new java.io.RandomAccessFile(new java.io.File(d, "x.parquet"), "rw")
    try f.setLength(bytes) finally f.close() // sparse: logical length only
    d.getAbsolutePath
  }

  test("width derives from data, not cores, at bench scale") {
    val at32 = SessionTuning.shufflePartitions("/root/testdata/sf0.1", 32)
    val at8 = SessionTuning.shufflePartitions("/root/testdata/sf0.1", 8)
    assert(at32 >= 1 && at32 <= 32)
    // ~17.5 MB / 2 MiB ≈ 9 chunks; the 8-core cap may trim by at most 1-2
    assert(math.abs(at32 - at8) <= 2,
      s"width must be data-derived (got $at32 at 32c vs $at8 at 8c)")
    assert(at32 < 32, "tiny inputs must not inflate to the core count")
  }

  test("mid band: width == cpus (enough data per core); scale band: bytes/256MiB") {
    // 200 MB: fine = 100 chunks, cap = max(cpus, 1) = cpus — the mid band
    val mid = dirOf(200L * 1024 * 1024)
    assert(SessionTuning.shufflePartitions(mid, 32) === 32)
    assert(SessionTuning.shufflePartitions(mid, 8) === 8)
    // 100 GB: cap = max(32, 400) = 400 — the guide's partition-size range
    val big = dirOf(100L * 1024 * 1024 * 1024)
    assert(SessionTuning.shufflePartitions(big, 32) === 400)
  }

  test("smaller SF gives smaller width; unknown path falls back to cpus") {
    val big = SessionTuning.shufflePartitions("/root/testdata/sf0.1", 32)
    val small = SessionTuning.shufflePartitions("/root/testdata/sf0.001", 32)
    assert(small <= big)
    assert(small >= 1)
    assert(SessionTuning.shufflePartitions("/no/such/dir", 32) === 32)
  }

  test("a file: URI sizes like the bare path (Hadoop FileSystem sizing)") {
    val dir = dirOf(10L * 1024 * 1024) // 5 fine chunks, below 8 and 32 cpus
    for (cpus <- Seq(8, 32); uri <- Seq(s"file:$dir", s"file://$dir/")) {
      assert(SessionTuning.shufflePartitions(dir, cpus) === 5)
      assert(SessionTuning.shufflePartitions(uri, cpus) === 5,
        s"$uri must size like the bare path at $cpus cpus")
    }
    assert(SessionTuning.shufflePartitions("file:///no/such/dir", 32) === 32)
  }

  test("default tile count: the shuffle width, capped at 4096") {
    // conf reads only: no job, no task
    val spark = SparkSpec.session
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "400000")
      assert(ops.TiledScan.defaultTiles(spark) === 4096)
      spark.conf.set(key, "7")
      assert(ops.TiledScan.defaultTiles(spark) === 7)
    } finally spark.conf.set(key, prev)
  }
}
