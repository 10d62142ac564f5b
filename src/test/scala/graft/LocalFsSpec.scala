package graft

import java.io.FileNotFoundException
import java.lang.management.ManagementFactory
import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions

import graft.io.{ForkFreeLocalFileSystem, ForkFreeLocalFs, ForkFreeRawLocalFileSystem, ForkFreeRawLocalFs}
import graft.streaming.{BufferedStreamSink, Streaming}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, FileContext, FileStatus, FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** The fork-free `file:` classes answer like Hadoop's stock local file
  * system, resolve for the shared session, and keep a daemon drain from
  * starting a thread per shell command. */
class LocalFsSpec extends AnyFunSuite {
  import TestSpark._

  private def fs[F <: RawLocalFileSystem](f: F): F = { f.initialize(URI.create("file:///"), new Configuration()); f }
  private lazy val forkFree = fs(new ForkFreeRawLocalFileSystem)
  private lazy val stock = fs(new RawLocalFileSystem)

  private def hpath(p: JPath): Path = new Path(p.toString)

  test("setPermission reads back the same POSIX set as the stock file system") {
    val dir = Files.createTempDirectory("graft_localfs_perm")
    for (mode <- Seq("600", "644", "700", "755"); kind <- Seq("file", "dir")) {
      val perm = new FsPermission(mode)
      val paths = Seq(forkFree, stock).map { f =>
        val p = dir.resolve(s"$kind-$mode-${f.getClass.getSimpleName}")
        if (kind == "file") Files.createFile(p) else Files.createDirectory(p)
        f.setPermission(hpath(p), perm)
        p
      }
      val expected = PosixFilePermissions.fromString(perm.toString)
      paths.foreach(p => assert(Files.getPosixFilePermissions(p) == expected, s"$kind $mode $p"))
    }
    intercept[FileNotFoundException](
      forkFree.setPermission(hpath(dir.resolve("missing")), new FsPermission("644")))
  }

  test("a sticky mode takes the stock path") {
    val dir = Files.createTempDirectory("graft_localfs_sticky")
    val paths = Seq(forkFree, stock).map { f =>
      val p = Files.createDirectory(dir.resolve(f.getClass.getSimpleName))
      f.setPermission(hpath(p), new FsPermission("1755"))
      p
    }
    paths.foreach { p =>
      val mode = Files.getAttribute(p, "unix:mode").asInstanceOf[Int]
      assert((mode & 0xfff) == Integer.parseInt("1755", 8), p)
    }
  }

  test("getFileLinkStatus equals the stock answer for a file, a directory, a symlink and a missing path") {
    val dir = Files.createTempDirectory("graft_localfs_link")
    val file = Files.writeString(dir.resolve("f"), "abc")
    val sub = Files.createDirectory(dir.resolve("d"))
    val link = Files.createSymbolicLink(dir.resolve("l"), file)
    def view(st: FileStatus) =
      (st.getLen, st.isDirectory, st.isSymlink, if (st.isSymlink) st.getSymlink else null,
        st.getModificationTime)
    Seq(file, sub, link).foreach { p =>
      assert(view(forkFree.getFileLinkStatus(hpath(p))) == view(stock.getFileLinkStatus(hpath(p))), p)
    }
    assert(forkFree.getFileLinkStatus(hpath(link)).isSymlink)
    val missing = hpath(dir.resolve("missing"))
    val e1 = intercept[Exception](forkFree.getFileLinkStatus(missing))
    val e2 = intercept[Exception](stock.getFileLinkStatus(missing))
    assert(e1.getClass == e2.getClass && e1.isInstanceOf[FileNotFoundException])
  }

  test("the shared session resolves file: to the fork-free classes for both Hadoop APIs") {
    val conf = spark.sparkContext.hadoopConfiguration
    val viaFs = FileSystem.get(URI.create("file:///"), conf)
    assert(viaFs.getClass == classOf[ForkFreeLocalFileSystem])
    assert(viaFs.asInstanceOf[LocalFileSystem].getRaw.getClass == classOf[ForkFreeRawLocalFileSystem])
    assert(FileSystem.getLocal(conf).getClass == classOf[ForkFreeLocalFileSystem])
    val viaFc = FileContext.getFileContext(URI.create("file:///"), conf).getDefaultFileSystem
    assert(viaFc.getClass == classOf[ForkFreeLocalFs])
    assert(viaFc.asInstanceOf[ChecksumFs].getRawFs.getClass == classOf[ForkFreeRawLocalFs])
    // the streaming state store and checkpoint logs take their conf from
    // the session state, not the context
    val sessionConf = spark.sessionState.newHadoopConf()
    assert(FileContext.getFileContext(URI.create("file:///"), sessionConf)
      .getDefaultFileSystem.getClass == classOf[ForkFreeLocalFs])
  }

  test("a daemon drain starts at most 5 threads per micro-batch") {
    val s = spark
    val work = Files.createTempDirectory("graft_localfs_drain").toString
    val catFile = Files.writeString(JPath.of(s"$work/registers.txt"),
      """dc_voltage   109  1  0.1   V
        |ac_watts     117  2  1.0   W
        |ac_frequency 119  1  0.01  Hz
        |""".stripMargin)
    val catalog = s.read.format("register-catalog").load(catFile.toString)
    // 32 files of 4 sweeps of 10 inverters × 3 registers
    val feed = IngestBench.generateFeed(s, s"$work/feed", rows = 32 * 4 * 30, inverters = 10)
    var runs = 0
    def drain(filesPerBatch: Int): Long = {
      runs += 1
      val stream = s.readStream.schema(feed.schema)
        .option("maxFilesPerTrigger", filesPerBatch).parquet(s"$work/feed")
      val sink = new BufferedStreamSink(s"$work/out$runs")
      val q = sink.drainAvailable(Streaming.daemonPipeline(stream, catalog), s"$work/ckpt$runs")
      assert(q.awaitTermination(300000), "AvailableNow drain must self-terminate")
      q.lastProgress.batchId + 1
    }
    // Warm-up, one micro-batch per file: Spark's block-manager ask and
    // storage pools start a thread per task until they hold 100 each, with
    // any file system. The measured drain still starts one broadcast-exchange
    // thread per batch (that pool fills at 128) and one query's threads.
    drain(1)
    val threads = ManagementFactory.getThreadMXBean
    val before = threads.getTotalStartedThreadCount
    val batches = drain(2)
    val started = threads.getTotalStartedThreadCount - before
    assert(batches >= 16, s"$batches micro-batches")
    assert(started <= 5 * batches, s"$started threads started over $batches micro-batches")
    assert(s.read.parquet(s"$work/out$runs").count() > 0)
  }
}
