package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Path => NioPath}
import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{LocalFs, Warc}

class LocalFsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val root = URI.create("file:///")

  /** The commands of every process the JVM started while `body` ran,
    * from a JFR recording of `jdk.ProcessStart`.
    */
  private def launches(body: => Unit): Seq[String] = {
    // Spark's executor metrics read the page size once per JVM, with
    // `getconf PAGESIZE` at the first heartbeat: take that launch now
    Class.forName("org.apache.spark.executor.ProcfsMetricsGetter$")
    val r = new Recording()
    r.enable("jdk.ProcessStart")
    r.start()
    try body finally r.stop()
    val f = Files.createTempFile("graft_launches", ".jfr")
    try {
      r.dump(f)
      RecordingFile.readAllEvents(f).asScala.map(_.getString("command")).toSeq
    } finally { r.close(); Files.delete(f) }
  }

  private def tempDir(prefix: String): NioPath = Files.createTempDirectory(prefix)
  private def delete(p: NioPath): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(p.toFile)

  test("LocalFs: a partitioned parquet write published through Publish starts no process") {
    import spark.implicits._
    val cdx = (10 until 50).map(i => (f"com,s$i%02d)/p", i.toLong, i.toLong * 100, 50L, s"d$i"))
      .toDF("surt_key", "file_id", "offset", "record_bytes", "digest")
      .withColumn("target_uri", col("surt_key"))
      .localCheckpoint()
    val dir = tempDir("graft_lfs_publish")
    try {
      val started = launches {
        Warc.writeCdxShards(cdx.filter(col("file_id") % 2 === 0), dir.toString, numShards = 4)
        Warc.compactCdxShards(dir.toString, cdx.filter(col("file_id") % 2 === 1))
      }
      assert(started.isEmpty, started)
      assert(Warc.readCdxShards(spark, dir.toString, cdx.schema).count() == 40)
      // the checksum wrapper still writes a .crc beside each part file
      val shard = dir.resolve("shard=0").toFile.list().toSeq
      assert(shard.exists(n => n.startsWith(".part-") && n.endsWith(".crc")), shard)
    } finally delete(dir)
  }

  test("LocalFs: a 3-batch stateful stream with a checkpoint starts no process") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val checkpoint = tempDir("graft_lfs_ckpt")
    val input = MemoryStream[Long]
    val started = launches {
      val q = input.toDF().groupBy(col("value") % 3).count()
        .writeStream.format("memory").queryName("lfs_counts")
        .outputMode(OutputMode.Complete)
        .option("checkpointLocation", checkpoint.toString).start()
      try (0 until 3).foreach { b =>
        input.addData((b * 10L) until (b * 10L + 10))
        q.processAllAvailable()
      } finally TestSpark.quietStop(q)
    }
    try {
      assert(started.isEmpty, started)
      assert(spark.table("lfs_counts").agg(org.apache.spark.sql.functions.sum("count"))
        .as[Long].head() == 30L)
      // three committed batches, each with its state delta and its .crc
      assert(checkpoint.resolve("commits").toFile.list().toSet.contains("2"))
      val state = Files.walk(checkpoint.resolve("state")).iterator().asScala
        .map(_.getFileName.toString).toSeq
      assert(state.contains("3.delta") && state.contains(".3.delta.crc"), state.sorted)
    } finally delete(checkpoint)
  }

  test("LocalFs: file and directory permission bits equal the stock filesystem's") {
    val conf = spark.sparkContext.hadoopConfiguration
    val stock = new LocalFileSystem()
    stock.initialize(root, new Configuration())
    val engine = FileSystem.get(root, conf)
    assert(engine.isInstanceOf[LocalFs.Checksummed])
    val dir = tempDir("graft_lfs_perm")
    def perm(octal: String) = new FsPermission(Integer.parseInt(octal, 8))
    def bits(fs: FileSystem, sub: String): Seq[String] = {
      val base = new Path(dir.toUri.toString, sub)
      fs.mkdirs(new Path(base, "d750"), perm("750"))
      fs.mkdirs(new Path(base, "ddefault"))
      fs.create(new Path(base, "f640"), perm("640"), true, 4096,
        1.toShort, 1L << 20, null).close()
      fs.create(new Path(base, "fdefault")).close()
      fs.setPermission(new Path(base, "fdefault"), perm("604"))
      Seq("d750", "ddefault", "f640", "fdefault", ".f640.crc").map { n =>
        n + " " + java.nio.file.attribute.PosixFilePermissions.toString(
          Files.getPosixFilePermissions(dir.resolve(sub).resolve(n)))
      }
    }
    try {
      var stockBits = Seq.empty[String]
      // the recording does see the stock class's launches
      assert(launches { stockBits = bits(stock, "stock") }.nonEmpty)
      var engineBits = Seq.empty[String]
      val started = launches { engineBits = bits(engine, "engine") }
      assert(started.isEmpty, started)
      assert(engineBits == stockBits)
      assert(engineBits.head == "d750 rwxr-x---", engineBits)
    } finally { stock.close(); delete(dir) }
  }

  test("LocalFs: a symlink and a missing path each get their link status, through FileSystem and FileContext") {
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = tempDir("graft_lfs_link")
    try {
      val target = Files.write(dir.resolve("target.txt"), "x".getBytes("UTF-8"))
      Files.createSymbolicLink(dir.resolve("link"), target)
      Files.createSymbolicLink(dir.resolve("dangling"), dir.resolve("gone"))
      def p(n: String) = new Path(dir.resolve(n).toUri)
      val fc = FileContext.getFileContext(root, conf)
      assert(fc.getDefaultFileSystem.isInstanceOf[LocalFs.Fc])
      val fs = FileSystem.get(root, conf)
      val started = launches {
        for (status <- Seq[Path => org.apache.hadoop.fs.FileStatus](
            fs.getFileLinkStatus, fc.getFileLinkStatus)) {
          val link = status(p("link"))
          assert(link.isSymlink && link.getSymlink.toUri.getPath == target.toString, link)
          assert(link.getLen == 1L && link.getOwner == System.getProperty("user.name"))
          assert(link.getPermission == FsPermission.valueOf("-" +
            java.nio.file.attribute.PosixFilePermissions.toString(
              Files.getPosixFilePermissions(target))), link)
          val dangling = status(p("dangling"))
          assert(dangling.isSymlink &&
            dangling.getSymlink.toUri.getPath == dir.resolve("gone").toString, dangling)
          val plain = status(p("target.txt"))
          assert(!plain.isSymlink && plain.isFile && plain.getLen == 1L, plain)
          intercept[FileNotFoundException](status(p("missing")))
        }
      }
      assert(started.isEmpty, started)
    } finally delete(dir)
  }

  test("LocalFs.install: FileSystem.get(file:///) returns the engine class after install, even when a stock instance was cached first") {
    val conf = spark.sparkContext.hadoopConfiguration
    FileSystem.get(root, conf).close()
    // a conf without the keys caches a stock class
    val stock = FileSystem.get(root, new Configuration())
    assert(!stock.isInstanceOf[LocalFs.Checksummed], stock.getClass)
    // a path due for deletion on close keeps the stock instance cached
    val doomed = tempDir("graft_lfs_doomed")
    stock.deleteOnExit(new Path(doomed.toUri))
    LocalFs.install(spark)
    assert(FileSystem.get(root, conf) eq stock)
    assert(Files.exists(doomed))
    stock.cancelDeleteOnExit(new Path(doomed.toUri))
    LocalFs.install(spark)
    val engine = FileSystem.get(root, conf)
    assert(engine.isInstanceOf[LocalFs.Checksummed])
    // cached per scheme: any conf now gets it, typed as Hadoop's local FS
    assert(FileSystem.get(root, new Configuration()) eq engine)
    assert(FileSystem.getLocal(conf) eq engine)
    // idempotent
    LocalFs.install(spark)
    assert(FileSystem.get(root, conf) eq engine)
    // the context's conf, which every query copies, carries both keys
    assert(conf.get("fs.file.impl") == classOf[LocalFs.Checksummed].getName)
    assert(conf.get("fs.AbstractFileSystem.file.impl") == classOf[LocalFs.Fc].getName)
    delete(doomed)
  }
}
