package graft

import java.io.RandomAccessFile
import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

/** BenchConf's input-size partition sizing, on a temp dir of files with
  * known sizes — no session needed. Files are sparse (setLength), so
  * the sizes cost no disk.
  */
class BenchConfSpec extends AnyFunSuite {

  private val MiB = 1L << 20

  /** A fresh temp dir holding one file per given size (nested one level
    * deep from the second file on, so the walk must recurse).
    */
  private def dirOf(sizes: Long*): Path = {
    val d = Files.createTempDirectory("graft-benchconf")
    sizes.zipWithIndex.foreach { case (n, i) =>
      val parent = if (i == 0) d else Files.createDirectories(d.resolve(s"t$i.parquet"))
      val f = new RandomAccessFile(parent.resolve(s"part-$i").toFile, "rw")
      try f.setLength(n) finally f.close()
    }
    d
  }

  private def parts(sizes: Long*): Int =
    BenchConf.sizeDerivedPartitions(dirOf(sizes: _*).toString)

  test("an empty dir sizes to 1 partition") {
    assert(parts() == 1)
    assert(parts(0L) == 1)
  }

  test("exactly 2 MiB is 1 partition; one byte more is 2") {
    assert(parts(2 * MiB) == 1)
    assert(parts(2 * MiB + 1) == 2)
    assert(parts(2 * MiB, 1L) == 2)
  }

  test("a missing dir throws with its path instead of sizing as 0 bytes") {
    val missing = dirOf().resolve("no-such-sf").toString
    val e = intercept[IllegalArgumentException](
      BenchConf.sizeDerivedPartitions(missing))
    assert(e.getMessage.contains(missing))
  }
}
