package graft.streaming

import java.io.FileNotFoundException
import java.nio.ByteBuffer
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileStatus, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.exec.LocalCounterExecutor
import graft.model._

/** [[ForkFreeLocalFileSystem]] and [[ForkFreeLocalFs]]: the same answers
  * and the same checkpoint files as Hadoop's local filesystem, without a
  * shell process per checkpoint file.
  */
class ForkFreeLocalFsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val acct = FunctionType("global", "Account", stateful = true)
  private def delta(v: Long): Array[Byte] = ByteBuffer.allocate(8).putLong(v).array()
  private def asLong(b: Array[Byte]): Long = ByteBuffer.wrap(b).getLong

  test("fork-free raw FS answers like RawLocalFileSystem on files, dirs and symlinks") {
    val dir = Files.createTempDirectory("graft-fs")
    val file = Files.write(dir.resolve("f"), Array.fill[Byte](17)(1))
    val sub = Files.createDirectory(dir.resolve("d"))
    val link = Files.createSymbolicLink(dir.resolve("link"), file)
    val dangling = Files.createSymbolicLink(dir.resolve("dangling"), dir.resolve("gone"))
    val missing = dir.resolve("missing")

    def init(fs: RawLocalFileSystem): RawLocalFileSystem = {
      fs.initialize(java.net.URI.create("file:///"), new Configuration()); fs
    }
    val stock = init(new RawLocalFileSystem)
    val forkFree = init(new ForkFreeRawLocalFileSystem)
    def view(st: FileStatus) =
      (st.isSymlink, st.isDirectory, st.getLen, st.getPermission,
        if (st.isSymlink) Some(st.getSymlink) else None)
    def linkStatus(fs: RawLocalFileSystem, p: JPath) =
      try Right(view(fs.getFileLinkStatus(new Path(p.toString))))
      catch { case e: FileNotFoundException => Left(e.getClass) }

    for (p <- Seq(file, sub, link, dangling, missing))
      assert(linkStatus(forkFree, p) == linkStatus(stock, p), s"getFileLinkStatus($p)")
    assert(linkStatus(forkFree, link).exists(_._1), "a symlink must still read as one")
    assert(linkStatus(forkFree, dangling).exists(_._1))
    assert(linkStatus(forkFree, missing) == Left(classOf[FileNotFoundException]))
    assert(linkStatus(forkFree, file) == Right(view(stock.getFileStatus(new Path(file.toString)))))

    for (mode <- Seq("640", "755", "600", "444")) {
      val perm = new FsPermission(mode)
      forkFree.setPermission(new Path(file.toString), perm)
      val got = stock.getFileStatus(new Path(file.toString)).getPermission
      stock.setPermission(new Path(file.toString), perm)
      assert(got == stock.getFileStatus(new Path(file.toString)).getPermission, mode)
      assert(got == perm, mode)
    }
    assert(intercept[java.io.IOException](
      forkFree.setPermission(new Path(missing.toString), new FsPermission("644"))) != null)
  }

  /** Process starts in this JVM while `body` runs, by command name. */
  private def processStarts(body: => Unit): Map[String, Int] = {
    val rec = new Recording()
    try {
      rec.enable("jdk.ProcessStart")
      rec.start()
      body
      rec.stop()
      val out = Files.createTempFile("graft-forks", ".jfr")
      rec.dump(out)
      RecordingFile.readAllEvents(out).asScala
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(e => e.getString("command").trim.split("\\s+").head.split('/').last)
        .groupBy(identity).map { case (k, v) => k -> v.size }
    } finally rec.close()
  }

  test("a loop run starts no chmod or readlink process") {
    val h = new LoopHarness(spark, new LocalCounterExecutor)
    var batches = 0
    val starts = try processStarts {
      val keyed = FunctionAddress(acct, "fork1")
      for (i <- 1 to 10) {
        h.send(Event.request(s"f$i", keyed, Request.InvokeStateful, delta(1)))
        h.drain()
      }
      batches = h.query.recentProgress.count(_.numInputRows > 0)
      h.send(Event.request("fget", keyed, Request.GetState))
      h.drain()
    } finally h.stop()
    assert(batches >= 10, s"only $batches batches ran")
    assert(asLong(h.clientReplies.find(_.eventId == "fget").get.payload) == 10L)
    assert(starts.getOrElse("chmod", 0) == 0 && starts.getOrElse("readlink", 0) == 0,
      s"process starts over $batches batches: $starts")
  }

  /** Starts the job on `ckpt`, runs one batch per id (an increment of `keyed`), stops. */
  private def runBatches(ckpt: String, input: MemoryStream[Array[Byte]], keyed: FunctionAddress,
      ids: Seq[String], replies: mutable.Buffer[Event]): Unit = {
    val q = StateflowPipeline.start(input.toDS(), new LocalCounterExecutor, ckpt, JobConfig()) {
      (batch: Dataset[WireRoute]) =>
        import spark.implicits._
        val client = batch.filter(_.direction == RouteDirection.CLIENT).map(_.event).collect()
        replies.synchronized { replies ++= client.map(ProtoCodec.decodeEvent) }
    }
    try ids.foreach { id =>
      input.addData(ProtoCodec.encode(Event.request(id, keyed, Request.InvokeStateful, delta(1))))
      q.processAllAvailable()
    } finally q.stop()
  }

  /** Flips the low bit of the byte at `at(bytes)` in `f`; returns the original bytes. */
  private def flip(f: JPath, at: Array[Byte] => Int): Array[Byte] = {
    val original = Files.readAllBytes(f)
    val bytes = original.clone()
    bytes(at(bytes)) = (bytes(at(bytes)) ^ 1).toByte
    Files.write(f, bytes)
    original
  }

  private def causes(e: Throwable): Seq[Throwable] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toVector

  private def listFiles(dir: JPath): Seq[JPath] =
    Files.walk(dir).iterator().asScala.filter(Files.isRegularFile(_)).toVector

  test("checkpoint files keep their .crc sidecars and checksums; corruption is caught") {
    import spark.implicits._
    val ckpt = Files.createTempDirectory("graft-crc")
    val input = MemoryStream[Array[Byte]](spark)
    val replies = mutable.Buffer.empty[Event]
    val keyed = FunctionAddress(acct, "crc1")
    runBatches(ckpt.toString, input, keyed, Seq("c1", "c2", "c3"), replies)

    def isHadoopCrc(f: JPath) = f.getFileName.toString.startsWith(".")
    def sidecar(f: JPath) = f.resolveSibling(s".${f.getFileName}.crc")
    val files = listFiles(ckpt)
    for (f <- files.filterNot(isHadoopCrc))
      assert(Files.exists(sidecar(f)), s"no Hadoop checksum sidecar for $f")
    for (log <- Seq("offsets", "commits")) {
      val data = listFiles(ckpt.resolve(log)).filterNot(isHadoopCrc)
      assert(data.map(_.getFileName.toString).sorted == Seq("0", "1", "2"), s"$log: $data")
      for (f <- data; p <- Seq(f, sidecar(f)))
        assert(PosixFilePermissions.toString(Files.getPosixFilePermissions(p)) == "rw-r--r--",
          s"mode of $p")
    }
    // Spark's own CRC32C file next to every RocksDB snapshot and changelog
    val stateFiles = files.filter(f => f.toString.endsWith(".zip") || f.toString.endsWith(".changelog"))
    assert(stateFiles.nonEmpty, s"no state files in $files")
    for (f <- stateFiles) {
      val json = new String(Files.readAllBytes(f.resolveSibling(s"${f.getFileName}.crc")))
      val crc = new java.util.zip.CRC32C
      crc.update(Files.readAllBytes(f))
      assert(json.contains(s""""value":${crc.getValue.toInt},"mainFileSize":${Files.size(f)},"""),
        s"Spark checksum of $f: $json")
    }

    // a valid offsets file with one wrong digit: only its sidecar can tell
    val offsets = ckpt.resolve("offsets").resolve("2")
    val original = flip(offsets, _.lastIndexWhere(b => b >= '0' && b <= '9'))
    val local = org.apache.hadoop.fs.FileSystem.getLocal(new Configuration())
    intercept[ChecksumException] {
      val in = local.open(new Path(offsets.toString))
      try in.readAllBytes() finally in.close()
    }
    Files.write(offsets, original)

    // a flipped byte in the newest state file fails the restart: a
    // snapshot zip is read through its Hadoop sidecar, a changelog through
    // its LZ4 frame, and either must refuse to load
    val newest = stateFiles.filter(_.getParent.getFileName.toString == "0")
      .maxBy(_.getFileName.toString.takeWhile(_.isDigit).toInt)
    flip(newest, _.length / 2)
    val err = intercept[Exception](runBatches(ckpt.toString, input, keyed, Seq("c4"), replies))
    val chain = causes(err)
    assert(chain.exists(e => e.isInstanceOf[ChecksumException] ||
      String.valueOf(e.getMessage).contains("Stream is corrupted")), s"not a corruption error: $chain")
  }

  test("a flipped digit in the offset log fails the restart instead of resuming elsewhere") {
    import spark.implicits._
    val ckpt = Files.createTempDirectory("graft-offsets")
    val input = MemoryStream[Array[Byte]](spark)
    val replies = mutable.Buffer.empty[Event]
    val keyed = FunctionAddress(acct, "off1")
    runBatches(ckpt.toString, input, keyed, Seq("o1", "o2", "o3"), replies)
    // the source offset is the file's last number: a still-valid offset
    flip(ckpt.resolve("offsets").resolve("2"), _.lastIndexWhere(b => b >= '0' && b <= '9'))
    val err = intercept[Exception](runBatches(ckpt.toString, input, keyed, Seq("o4"), replies))
    assert(causes(err).exists(_.isInstanceOf[ChecksumException]), s"not a checksum error: ${causes(err)}")
  }
}
