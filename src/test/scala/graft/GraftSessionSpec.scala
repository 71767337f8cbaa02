package graft

import java.nio.file.{Files, Path}

class GraftSessionSpec extends SparkSpec {
  private val MiB = 1L << 20

  private def sized(p: Path, bytes: Long): Path = {
    val f = new java.io.RandomAccessFile(p.toFile, "rw")
    try f.setLength(bytes) finally f.close()
    p
  }

  test("dirBytes skips links (a cycle terminates) and counts a vanished dir as 0") {
    val root = Files.createTempDirectory("graft-dirbytes")
    val sub = Files.createDirectory(root.resolve("a"))
    val file = sized(sub.resolve("part-0.parquet"), 1000L)
    Files.createSymbolicLink(sub.resolve("loop"), root)
    Files.createSymbolicLink(root.resolve("file-link"), file)
    val gone = Files.createDirectory(root.resolve("gone"))
    Files.delete(gone)
    assert(GraftSession.dirBytes(root.toString) === 1000L)
    assert(GraftSession.dirBytes(gone.toString) === 0L)
    // a link given as the root itself is followed
    assert(GraftSession.dirBytes(sub.resolve("loop").toString) === 1000L)
  }

  test("shuffle partitions = clamp(ceil(bytes / 2 MiB), 1, cpus)") {
    assert(GraftSession.shufflePartitions(0L, 8) === 1)
    assert(GraftSession.shufflePartitions(2 * MiB, 8) === 1)
    assert(GraftSession.shufflePartitions(2 * MiB + 1, 8) === 2)
    assert(GraftSession.shufflePartitions(8 * 2 * MiB + 1, 8) === 8)
    assert(GraftSession.settings(cpus = 3)("spark.sql.shuffle.partitions") === "3")
  }

  test("Verify and Bench get the same effective SQL conf for one dir and cpus") {
    val dir = Files.createTempDirectory("graft-sf")
    sized(dir.resolve("lineitem.parquet"), 5 * MiB)
    val v = Verify.settings(dir.toString, cpus = 4)
    val b = Bench.settings(dir.toString, cpus = 4)
    def effective(s: Map[String, String]): Map[String, String] = {
      val session = spark.newSession()
      s.filter(_._1.startsWith("spark.sql.")).foreach { case (k, x) => session.conf.set(k, x) }
      session.conf.getAll.filter(_._1.startsWith("spark.sql."))
    }
    assert(effective(v) === effective(b))
    assert(v === b)
    assert(v("spark.sql.shuffle.partitions") === "3")
    assert(v("spark.sql.autoBroadcastJoinThreshold") === (64 * MiB).toString)
    assert(v("spark.driver.maxResultSize") === "2g")
  }
}
