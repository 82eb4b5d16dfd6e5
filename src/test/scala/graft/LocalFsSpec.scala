package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, StandardCopyOption, Path => NioPath}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import jdk.jfr.consumer.RecordingStream
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileStatus, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.{Seconds, Span}

import graft.io.LocalFs
import graft.streaming.{AnomalyAlert, Event, EventPipeline, SessionStatefulProcessor, StreamDrain, TypedStatefulProcessors}

/** [[graft.io.LocalFs]]: the same statuses, modes and checkpoint files
  * as Hadoop's stock local file system, without starting a process.
  */
class LocalFsSpec extends SparkSpec {

  private val AbstractFsKey = "fs.AbstractFileSystem.file.impl"
  private val StockFs = classOf[org.apache.hadoop.fs.local.LocalFs].getName
  private val OwnFs = classOf[LocalFs].getName
  private val Changelog =
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"

  private val root = URI.create("file:///")
  private def raw(fs: org.apache.hadoop.fs.RawLocalFileSystem) = {
    fs.initialize(root, new Configuration()); fs
  }
  private lazy val stockRaw = raw(new org.apache.hadoop.fs.RawLocalFileSystem)
  private lazy val ownRaw = raw(new graft.io.RawLocalFileSystem)
  private def fileContext(impl: String): FileContext = {
    val conf = new Configuration()
    conf.set(AbstractFsKey, impl)
    FileContext.getFileContext(root, conf)
  }
  private lazy val stockFc = fileContext(StockFs)
  private lazy val ownFc = fileContext(OwnFs)

  /** Every field of a status (FileStatus.equals compares the path only). */
  private def fields(status: => FileStatus): Either[String, Any] =
    try {
      val s = status
      Right((s.getPath, s.getLen, s.isDirectory, s.isSymlink,
             if (s.isSymlink) Some(s.getSymlink) else None,
             s.getModificationTime, s.getAccessTime, s.getReplication,
             s.getBlockSize, s.getPermission, s.getOwner, s.getGroup))
    } catch { case e: FileNotFoundException => Left(e.getClass.getName) }

  private def mode(p: NioPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  test("getFileLinkStatus matches the stock file system for files, dirs, missing paths and symlinks") {
    val dir = Files.createTempDirectory("graft_localfs_link")
    Files.write(dir.resolve("target.txt"), "x".getBytes)
    Files.createDirectory(dir.resolve("sub"))
    Files.createSymbolicLink(dir.resolve("link"), java.nio.file.Paths.get("target.txt"))
    Files.createSymbolicLink(dir.resolve("dangling"), java.nio.file.Paths.get("nowhere"))
    for (name <- Seq("target.txt", "sub", "missing", "link", "dangling");
         qualify <- Seq(false, true)) {
      val p = new Path((if (qualify) "file:" else "") + dir.resolve(name))
      val what = s"$name (${if (qualify) "qualified" else "unqualified"})"
      val viaRaw = fields(ownRaw.getFileLinkStatus(p))
      assert(viaRaw == fields(stockRaw.getFileLinkStatus(p)), s"FileSystem API: $what")
      assert(fields(ownFc.getFileLinkStatus(p)) == fields(stockFc.getFileLinkStatus(p)),
             s"FileContext API: $what")
      // the cases stay what they are named
      val link = viaRaw.toOption.map(_.asInstanceOf[Product].productElement(3))
      val expected = (name, qualify) match {
        case ("missing", _) | ("dangling", true) => None
        case ("link" | "dangling", false)         => Some(true)
        case _                                     => Some(false)
      }
      assert(link == expected, what)
    }
  }

  test("setPermission leaves the mode bits the stock chmod leaves") {
    val dir = Files.createTempDirectory("graft_localfs_perm")
    def both(kind: String, octal: String, before: Option[String] = None): Seq[NioPath] =
      Seq(stockRaw, ownRaw).zipWithIndex.map { case (fs, i) =>
        val p = dir.resolve(s"$kind-$octal-${before.getOrElse("")}-$i")
        if (kind == "file") Files.createFile(p) else Files.createDirectory(p)
        before.foreach(b => assert(new ProcessBuilder("chmod", b, p.toString).start().waitFor() == 0))
        fs.setPermission(new Path(p.toString),
                         new FsPermission(Integer.parseInt(octal, 8).toShort))
        p
      }
    for (kind <- Seq("file", "dir"); octal <- Seq("644", "755", "700")) {
      val Seq(stock, own) = both(kind, octal)
      assert(Files.getPosixFilePermissions(own) == Files.getPosixFilePermissions(stock))
      assert(mode(own) == Integer.parseInt(octal, 8), s"$kind $octal")
    }
    // falls back to Hadoop: the sticky bit, and a setgid directory
    val Seq(stockSticky, ownSticky) = both("dir", "1777")
    assert(mode(ownSticky) == mode(stockSticky))
    assert(mode(ownSticky) == Integer.parseInt("1777", 8))
    val Seq(stockSetgid, ownSetgid) = both("dir", "750", before = Some("2755"))
    assert(mode(ownSetgid) == mode(stockSetgid))
  }

  test("use covers a session without its own file-context setting, once") {
    val hadoop = spark.sparkContext.hadoopConfiguration
    assert(hadoop.get(AbstractFsKey) == OwnFs, "engine sessions carry it")
    val engineBuilt = spark.newSession()
    LocalFs.use(engineBuilt)
    assert(engineBuilt.conf.getOption(AbstractFsKey).isEmpty)
    try {
      hadoop.set(AbstractFsKey, StockFs) // as in a session the engine did not build
      val other = spark.newSession()
      LocalFs.use(other)
      assert(other.conf.get(AbstractFsKey) == OwnFs)
      val own = spark.newSession()
      own.conf.set(AbstractFsKey, StockFs)
      LocalFs.use(own)
      assert(own.conf.get(AbstractFsKey) == StockFs)
      // every keyed-state builder reaches it: one per state API, plus the
      // event-time session form (built, not started)
      val builders: Seq[(String, SparkSession => Unit)] = Seq(
        "EventPipeline.ewmaStream" -> { s =>
          EventPipeline.ewmaStream(s, events(s).toDF()); () },
        "TypedStatefulProcessors.userSnapshotStream" -> { s =>
          TypedStatefulProcessors.userSnapshotStream(s, events(s)); () },
        "SessionStatefulProcessor.sessionStream" -> { s =>
          SessionStatefulProcessor.sessionStream(s, events(s)); () })
      for ((name, build) <- builders) {
        val s = spark.newSession()
        build(s)
        assert(s.conf.getOption(AbstractFsKey).contains(OwnFs), name)
      }
    } finally hadoop.set(AbstractFsKey, OwnFs)
  }

  /** An unstarted event stream in session `s`. */
  private def events(s: SparkSession): Dataset[Event] = {
    import s.implicits._
    MemoryStream[Event](s, 1).toDS()
  }

  /** sf0.001's events as 4 time-ranged parquet chunks, one micro-batch each. */
  private lazy val chunks: Seq[NioPath] = {
    val dir = Files.createTempDirectory("graft_localfs_events")
    val events = Tables.events(spark, sf("sf0.001"))
      .select(EventPipeline.eventSchema.fieldNames.map(col).toIndexedSeq: _*)
    StreamDrain.stageChunked(events, dir.toString, 4, Seq(col("ts"), col("event_id")))
    Files.list(dir).iterator.asScala.filter(_.toString.endsWith(".parquet")).toSeq.sorted
  }

  private def stage(in: NioPath, ks: Range): Unit = {
    Files.createDirectories(in)
    ks.foreach(k => Files.copy(chunks(k), in.resolve(chunks(k).getFileName),
                               StandardCopyOption.COPY_ATTRIBUTES))
  }

  /** Drains `in` through the RocksDB (changelog) anomaly detector into
    * the checkpoint `ckpt`, with the file-context file system `fs` set
    * on the session (`None`: the session's own); returns every alert.
    */
  private def drain(in: NioPath, ckpt: NioPath, fs: Option[String]): Seq[AnomalyAlert] =
    Posture.withConf(spark, Posture.rocksDb, Changelog -> Some("true"), AbstractFsKey -> fs) {
      val out = new ConcurrentLinkedQueue[AnomalyAlert]()
      val sink: (Dataset[AnomalyAlert], Long) => Unit =
        (b, _) => out.addAll(b.collect().toSeq.asJava)
      val q = EventPipeline
        .anomalyStream(spark, EventPipeline.readEventFileStream(spark, in.toString))
        .writeStream
        .outputMode(OutputMode.Update)
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow())
        .foreachBatch(sink)
        .start()
      q.awaitTermination()
      out.asScala.toSeq
    }

  /** Commands of the processes started while `body` ran, recorded by
    * JFR, including the two marker processes (named under `work`) that
    * bracket it.
    */
  private def started(work: NioPath)(body: => Unit): Seq[String] = {
    val commands = new ConcurrentLinkedQueue[String]()
    val rs = new RecordingStream()
    // a marker process: once its event is in, so is every earlier one
    def mark(name: String): Unit = {
      val marker = work.resolve(name).toString
      assert(new ProcessBuilder("test", "-e", marker).start().waitFor() == 1)
      eventually(timeout(Span(60, Seconds))) {
        assert(commands.asScala.exists(_.contains(marker)))
      }
    }
    try {
      rs.enable("jdk.ProcessStart")
      rs.onEvent("jdk.ProcessStart", e => { commands.add(e.getString("command")); () })
      rs.startAsync()
      mark(s"start-${System.nanoTime}")
      body
      mark(s"end-${System.nanoTime}")
    } finally rs.close()
    commands.asScala.toSeq
  }

  test("a RocksDB anomaly drain starts no process under its checkpoint") {
    val work = Files.createTempDirectory("graft_localfs_jfr")
    def underCheckpoint(name: String, fs: Option[String]): Seq[String] = {
      stage(work.resolve(s"$name-in"), 0 until 4)
      val ckpt = work.resolve(s"$name-ckpt")
      started(work)(drain(work.resolve(s"$name-in"), ckpt, fs)).filter(_.contains(ckpt.toString))
    }
    val own = underCheckpoint("own", None)
    assert(own.isEmpty, own.groupBy(_.split(' ').head).map { case (c, s) => s"$c x${s.size}" })
    // the guard is live: the stock file system forks on the same drain
    assert(underCheckpoint("stock", Some(StockFs)).nonEmpty)
  }

  test("a Tables.events load and count start no process on the table's files") {
    // Tables lists the table's files on every load (the version its
    // schema memo and every dataset memo key on); the listing must not
    // build LocatedFileStatus, whose permission read starts an `ls` per
    // file on the local file system. Other sessions' cleanup may start
    // processes meanwhile, so only commands naming the dataset count.
    val work = Files.createTempDirectory("graft_localfs_events_jfr")
    val dir = sf("sf0.001")
    val forks = started(work)(Tables.events(spark, dir).count()).filter(_.contains(dir))
    assert(forks.isEmpty, forks.groupBy(_.split(' ').head).map { case (c, s) => s"$c x${s.size}" })
  }

  /** File names under a checkpoint, relative, with UUIDs masked. */
  private def names(ckpt: NioPath): Set[String] =
    Files.walk(ckpt).iterator.asScala.filter(Files.isRegularFile(_))
      .map(p => ckpt.relativize(p).toString
        .replaceAll("[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}", "<uuid>"))
      .toSet

  test("stock and fork-free drains write the same checkpoint files and alerts, and resume each other's") {
    val work = Files.createTempDirectory("graft_localfs_resume")
    def whole(name: String, fs: Option[String]): (Seq[AnomalyAlert], Set[String]) = {
      stage(work.resolve(s"$name-in"), 0 until 4)
      val ckpt = work.resolve(s"$name-ckpt")
      (drain(work.resolve(s"$name-in"), ckpt, fs), names(ckpt))
    }
    val (alerts, files) = whole("own", None)
    val (stockAlerts, stockFiles) = whole("stock", Some(StockFs))
    assert(alerts.exists(_.is_anomaly))
    assert(alerts.sortBy(_.event_id) == stockAlerts.sortBy(_.event_id))
    assert(files.exists(_.endsWith(".crc")))
    assert(files == stockFiles)

    for ((first, second) <- Seq(Some(StockFs) -> None, None -> Some(StockFs))) {
      val name = s"${first.isDefined}-${second.isDefined}"
      val in = work.resolve(s"resume-$name-in")
      val ckpt = work.resolve(s"resume-$name-ckpt")
      stage(in, 0 until 2)
      val before = drain(in, ckpt, first)
      stage(in, 2 until 4)
      val after = drain(in, ckpt, second)
      assert(before.nonEmpty && after.nonEmpty)
      assert((before ++ after).sortBy(_.event_id) == alerts.sortBy(_.event_id),
             s"resume $name")
    }
  }
}
