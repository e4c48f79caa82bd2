package graft

import java.io.FileNotFoundException
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions
import java.sql.Timestamp
import java.util.EnumSet
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import jdk.jfr.consumer.RecordingStream
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalFs
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.network.util.JavaUtils
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import graft.streaming.{IngestPipeline, LocalCheckpointFs, MeasureEvent}
import graft.streaming.CurrentValuesSink.InMemoryTarget

/** The fork-free `file:` checkpoint file system, differentially against
  * Hadoop's own local file system, and its effect on a running pipeline:
  * no `chmod`/`readlink` processes, same checkpoint files.
  */
class LocalCheckpointFsSpec extends SparkSpec {
  import spark.implicits._

  private def initialized(fs: RawLocalFileSystem): RawLocalFileSystem = {
    fs.initialize(java.net.URI.create("file:///"), new Configuration())
    fs
  }
  private def hadoopRaw() = initialized(new RawLocalFileSystem)
  private def forkFreeRaw() = initialized(new LocalCheckpointFs.ForkFreeRawLocalFileSystem)
  private def hpath(p: JPath) = new Path("file:" + p.toAbsolutePath)
  private def mode(p: JPath) = PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  private def withTempDir[T](prefix: String)(f: JPath => T): T = {
    val dir = Files.createTempDirectory(prefix)
    try f(dir) finally JavaUtils.deleteRecursively(dir.toFile)
  }

  test("setPermission leaves the same POSIX mode as Hadoop's, files and directories") {
    withTempDir("graft-fsperm") { dir =>
      val (hadoop, ours) = (hadoopRaw(), forkFreeRaw())
      for (m <- Seq("600", "644", "700", "755"); kind <- Seq("file", "dir")) {
        val perm = new FsPermission(Integer.parseInt(m, 8).toShort)
        val pair = Seq("hadoop", "ours").map { side =>
          val p = dir.resolve(s"$side-$kind-$m")
          if (kind == "file") Files.createFile(p) else Files.createDirectory(p)
          // start from a mode that shares no bit pattern with any target
          Files.setPosixFilePermissions(p, PosixFilePermissions.fromString("-wx--x-w-"))
          p
        }
        hadoop.setPermission(hpath(pair(0)), perm)
        ours.setPermission(hpath(pair(1)), perm)
        assert(mode(pair(0)) == PosixFilePermissions.toString(
          PosixFilePermissions.fromString(perm.toString)), s"$kind $m")
        assert(mode(pair(1)) == mode(pair(0)), s"$kind $m")
      }
    }
  }

  test("getFileLinkStatus gives Hadoop's answer; a missing path is FileNotFoundException") {
    withTempDir("graft-fslink") { dir =>
      val file = Files.write(dir.resolve("f"), Array[Byte](1, 2, 3))
      val (hadoop, ours) = (hadoopRaw(), forkFreeRaw())
      def view(s: FileStatus) = (s.getPath, s.isDirectory, s.isSymlink, s.getLen,
        s.getModificationTime, s.getPermission, s.getOwner, s.getGroup)
      Seq(file, dir).foreach { p =>
        assert(view(ours.getFileLinkStatus(hpath(p))) == view(hadoop.getFileLinkStatus(hpath(p))))
      }
      val missing = hpath(dir.resolve("missing"))
      intercept[FileNotFoundException](hadoop.getFileLinkStatus(missing))
      intercept[FileNotFoundException](ours.getFileLinkStatus(missing))
    }
  }

  test("FileContext create + rename-with-overwrite: same files, bytes, .crc companions and modes as LocalFs") {
    withTempDir("graft-fsctx") { root =>
      def run(impl: Class[_], sub: String): Map[String, (Seq[Byte], String)] = {
        val conf = new Configuration()
        conf.set(LocalCheckpointFs.ConfKey, impl.getName)
        val fc = FileContext.getFileContext(conf)
        val base = hpath(root.resolve(sub))
        fc.mkdir(new Path(base, "offsets"), FsPermission.getDirDefault, true)
        def commit(version: String, body: String): Unit = {
          val tmp = new Path(base, s"offsets/.$version.tmp")
          val out = fc.create(tmp, EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
          try out.write(body.getBytes("UTF-8")) finally out.close()
          fc.rename(tmp, new Path(base, "offsets/0"), Options.Rename.OVERWRITE)
        }
        commit("a", "v1\n{\"batchWatermarkMs\":0}")
        commit("b", "v1\n{\"batchWatermarkMs\":1000}\n0") // overwrites offsets/0
        val top = root.resolve(sub)
        Files.walk(top).iterator.asScala.filter(_ != top).map { p =>
          val bytes = if (Files.isRegularFile(p)) Files.readAllBytes(p).toSeq else Seq.empty[Byte]
          top.relativize(p).toString -> (bytes, mode(p))
        }.toMap
      }
      val stock = run(classOf[LocalFs], "stock")
      assert(stock.keySet == Set("offsets", "offsets/0", "offsets/.0.crc"))
      assert(run(classOf[LocalCheckpointFs], "ours") == stock)
    }
  }

  test("a checkpointed pipeline spawns no chmod or readlink and keeps its .crc companions") {
    implicit val sqlCtx = spark.sqlContext
    withTempDir("graft-forkfree") { root =>
      val tag = root.getFileName.toString
      val spawned = new ConcurrentLinkedQueue[String]()
      val recording = new RecordingStream()
      recording.enable("jdk.ProcessStart")
      recording.onEvent("jdk.ProcessStart", e => spawned.add(e.getString("command")))
      recording.startAsync()
      val ckpt = root.resolve("ckpt")
      try {
        val input = MemoryStream[MeasureEvent]
        val target = new InMemoryTarget
        val handle = IngestPipeline.start(input.toDF(), target,
          trigger = Trigger.ProcessingTime("0 seconds"), checkpointDir = Some(ckpt.toString))
        try (0 until 3).foreach { b =>
          input.addData((0 until 4).map(d => MeasureEvent(s"d$d", "temp", b.toDouble,
            Timestamp.valueOf(s"2024-01-01 00:00:0$b"), status_ok = true)): _*)
          handle.processAllAvailable()
        } finally { handle.stop(); target.close() }
        // control: Hadoop's stock LocalFs renaming under the same root spawns
        // readlink, so once the recording shows it, it would have shown the
        // pipeline's spawns too
        val conf = new Configuration()
        conf.set(LocalCheckpointFs.ConfKey, classOf[LocalFs].getName)
        val fc = FileContext.getFileContext(conf)
        val control = hpath(root.resolve("control"))
        fc.create(new Path(control, "a"), EnumSet.of(CreateFlag.CREATE), Options.CreateOpts.createParent()).close()
        fc.rename(new Path(control, "a"), new Path(control, "b"), Options.Rename.OVERWRITE)
        val deadline = System.currentTimeMillis() + 30000
        while (!spawned.asScala.exists(_.contains(s"$tag/control")) &&
               System.currentTimeMillis() < deadline) Thread.sleep(100)
        assert(spawned.asScala.exists(_.contains(s"$tag/control")), "control spawn not recorded")
      } finally recording.close()

      val forked = spawned.asScala.filter(c =>
        c.contains(s"$tag/ckpt") && (c.contains("chmod") || c.contains("readlink")))
      assert(forked.isEmpty, s"${forked.size} spawns, e.g. ${forked.take(3).mkString("; ")}")

      val files = Files.walk(ckpt).iterator.asScala.filter(Files.isRegularFile(_)).toSeq
      def named(p: JPath) = p.getFileName.toString
      val commits = files.filter(p => named(p.getParent) == "commits" && named(p).forall(_.isDigit))
      assert(commits.map(named).toSet.intersect(Set("0", "1", "2")).size == 3, "three committed batches")
      val checksummed = files.filterNot(p => named(p).endsWith(".crc"))
      assert(checksummed.exists(p => named(p).endsWith(".delta")), "state store files present")
      checksummed.foreach { p =>
        assert(Files.exists(p.resolveSibling(s".${named(p)}.crc")), s"no .crc companion for $p")
      }
    }
  }
}
