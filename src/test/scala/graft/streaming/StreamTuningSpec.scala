package graft.streaming

import graft.SparkSpecBase

/** Pins for the input-sized stream partitioning helper after the r16
  * scale-safety fix: byte counting goes through the Hadoop FileSystem
  * of the path's SCHEME (the r15 java.io.File walk read 0 bytes for any
  * non-local URI, which would have sized every production stream to ONE
  * state partition), and unknown inputs / non-numeric session values
  * degrade to the session width, never to a downsize. */
class StreamTuningSpec extends SparkSpecBase {

  test("dirBytes resolves a non-file:// URI via the scheme's Hadoop FS") {
    withTempDir { d =>
      java.nio.file.Files.writeString(new java.io.File(d, "a.bin").toPath, "x" * 1000)
      java.nio.file.Files.writeString(new java.io.File(d, "b.bin").toPath, "y" * 500)
      // a test-only scheme backed by the local FS — proves resolution
      // goes through FileSystem.get(scheme), the path a java.io.File
      // walk cannot take (the r15 walk read 0 bytes for any URI input)
      spark.sparkContext.hadoopConfiguration.set(
        "fs.graftest.impl", classOf[GraftTestFs].getName)
      val viaScheme = StreamTuning.dirBytes(spark, s"graftest://${d.getAbsolutePath}")
      assert(viaScheme === Some(1500L))
    }
  }

  private def withTempDir[T](f: java.io.File => T): T = {
    val d = java.nio.file.Files.createTempDirectory("streamtuning").toFile
    try f(d) finally org.apache.commons.io.FileUtils.deleteQuietly(d)
  }

  test("dirBytes resolves file:// URIs and bare paths identically") {
    withTempDir { d =>
      java.nio.file.Files.writeString(new java.io.File(d, "a.bin").toPath, "x" * 1000)
      java.nio.file.Files.writeString(new java.io.File(d, "b.bin").toPath, "y" * 500)
      assert(StreamTuning.dirBytes(spark, s"file://${d.getAbsolutePath}") === Some(1500L))
      assert(StreamTuning.dirBytes(spark, d.getAbsolutePath) === Some(1500L))
    }
  }

  private def width: Int = spark.conf.get("spark.sql.shuffle.partitions").toInt

  test("unknown input volume keeps the session width (never downsizes to 1)") {
    assert(StreamTuning.inputSizedShufflePartitions(spark,
        Seq("/definitely/not/a/real/path")) === width,
      "an unresolvable input dir must not shrink the stream's partitioning")
  }

  test("staged gate-sized input sizes down to 1") {
    withTempDir { d =>
      java.nio.file.Files.writeString(new java.io.File(d, "tiny.bin").toPath, "z" * 100)
      assert(width > 1)
      assert(StreamTuning.inputSizedShufflePartitions(spark, Seq(d.getAbsolutePath)) === 1)
    }
  }

  test("sizing never changes spark.conf") {
    withTempDir { d =>
      java.nio.file.Files.writeString(new java.io.File(d, "tiny.bin").toPath, "z" * 100)
      val before = spark.conf.getAll
      StreamTuning.inputSizedShufflePartitions(spark, Seq(d.getAbsolutePath))
      StreamTuning.inputSizedShufflePartitions(spark, Seq("/definitely/not/a/real/path"))
      assert(spark.conf.getAll === before)
    }
  }

  // (the non-numeric session-value fallback in
  // inputSizedShufflePartitions is defensive-only: Spark 4's
  // RuntimeConfig validates the key as int, so the scenario cannot be
  // constructed in-process here — vendor runtimes with laxer validation
  // are the audience)
}

/** Test-only Hadoop FS: the local filesystem re-registered under a
  * non-`file:` scheme, so StreamTuningSpec can prove byte counting
  * resolves through the scheme's FileSystem. */
class GraftTestFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("graftest:///")
}
