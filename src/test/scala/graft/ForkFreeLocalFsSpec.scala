package graft

import java.net.URI
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import jdk.jfr.consumer.RecordingStream
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileStatus, FileSystem, Options, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.NativeCodeLoader
import org.apache.spark.sql.streaming.Trigger

import graft.pipeline.{AtomicTable, ForkFreeLocalFileSystem, ForkFreeLocalFs,
  ForkFreeRawLocalFileSystem, Medallion, TempDirs}

/** The fork-free local file system behaves as Hadoop's stock one (same
  * modes, same link statuses, working renames), is what `Sessions.local`
  * selects on both client APIs, and starts no `chmod` / `readlink`
  * process on the lakehouse's write paths. */
class ForkFreeLocalFsSpec extends SparkSpec {
  import spark.implicits._

  private def pair(umask: String): (RawLocalFileSystem, RawLocalFileSystem) = {
    val conf = new Configuration(false)
    conf.set("fs.permissions.umask-mode", umask)
    val stock = new RawLocalFileSystem
    val ours = new ForkFreeRawLocalFileSystem
    stock.initialize(URI.create("file:///"), conf)
    ours.initialize(URI.create("file:///"), conf)
    (stock, ours)
  }

  private def mode(p: Path): Int =
    Files.getAttribute(Paths.get(p.toUri.getPath), "unix:mode").asInstanceOf[Int] & 0xfff

  test("file and directory modes match the stock RawLocalFileSystem") {
    val root = TempDirs.scoped("graft_ffmode_")
    for (umask <- Seq("022", "077", "002")) {
      val (stock, ours) = pair(umask)
      def modes(fs: RawLocalFileSystem, tag: String): Seq[Int] = {
        val d = new Path(s"$root/$umask-$tag/a/b")
        assert(fs.mkdirs(d, new FsPermission("775")))
        val f = new Path(d, "f")
        fs.create(f, new FsPermission("666"), true, 4096, 1.toShort, 1L << 20, null).close()
        val g = new Path(d, "g")
        fs.create(g, true).close()
        fs.setPermission(g, new FsPermission("640"))
        // sticky bit: java.nio cannot set it, so both take Hadoop's path
        val s = new Path(d, "sticky")
        fs.mkdirs(s)
        fs.setPermission(s, new FsPermission("1777"))
        Seq(d.getParent, d, f, g, s).map(mode)
      }
      val got = modes(ours, "ours")
      assert(got === modes(stock, "stock"), s"umask $umask")
      assert(got.last === Integer.parseInt("1777", 8))
    }
  }

  test("getFileLinkStatus matches for a file, a directory, a symlink and a missing path") {
    val root = TempDirs.scoped("graft_fflink_")
    Files.write(Paths.get(s"$root/file"), "x".getBytes)
    Files.createDirectory(Paths.get(s"$root/dir"))
    Files.createSymbolicLink(Paths.get(s"$root/link"), Paths.get(s"$root/file"))
    val (stock, ours) = pair("022")
    def fields(st: FileStatus) =
      (st.getPath, st.isFile, st.isDirectory, st.isSymlink, st.getLen,
        st.getModificationTime, if (st.isSymlink) Some(st.getSymlink) else None)
    for (name <- Seq("file", "dir", "link")) {
      val p = new Path(s"$root/$name")
      assert(fields(ours.getFileLinkStatus(p)) === fields(stock.getFileLinkStatus(p)), name)
    }
    assert(ours.getFileLinkStatus(new Path(s"$root/link")).isSymlink)
    val missing = new Path(s"$root/missing")
    intercept[java.io.FileNotFoundException](stock.getFileLinkStatus(missing))
    intercept[java.io.FileNotFoundException](ours.getFileLinkStatus(missing))
  }

  test("Sessions.local selects the fork-free file system on both client APIs") {
    val conf = spark.sparkContext.hadoopConfiguration
    assert(FileSystem.get(URI.create("file:///"), conf).getClass === classOf[ForkFreeLocalFileSystem])
    assert(FileSystem.getLocal(conf).getRaw.getClass === classOf[ForkFreeRawLocalFileSystem])
    val ctx = FileContext.getFileContext(URI.create("file:///"), conf)
    assert(ctx.getDefaultFileSystem.getClass === classOf[ForkFreeLocalFs])
  }

  test("FileContext.rename(OVERWRITE) replaces the destination") {
    val root = TempDirs.scoped("graft_ffrename_")
    val ctx = FileContext.getFileContext(URI.create("file:///"),
      spark.sparkContext.hadoopConfiguration)
    val src = new Path(s"$root/src")
    val dst = new Path(s"$root/dst")
    def write(p: Path, s: String): Unit = {
      val out = ctx.create(p, java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE))
      out.write(s.getBytes); out.close()
    }
    write(src, "new")
    write(dst, "old")
    ctx.rename(src, dst, Options.Rename.OVERWRITE)
    assert(!ctx.util.exists(src))
    assert(new String(Files.readAllBytes(Paths.get(s"$root/dst"))) === "new")
    // the checksum file moved with its data file
    assert(Files.exists(Paths.get(s"$root/.dst.crc")))
    assert(!Files.exists(Paths.get(s"$root/.src.crc")))
  }

  test("no chmod or readlink process on the write, commit and checkpoint paths") {
    val root = TempDirs.scoped("graft_fffork_")
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val rs = new RecordingStream()
    rs.enable("jdk.ProcessStart")
    rs.onEvent("jdk.ProcessStart", e => { seen.add(e.getString("command")); () })
    rs.startAsync()
    // JFR delivers events in flushed batches: run a marker process last
    // and wait for it, so every earlier start has been delivered
    def drain(marker: String): Seq[String] = {
      new ProcessBuilder("true", marker).start().waitFor()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!seen.asScala.exists(_.contains(marker)) && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(seen.asScala.exists(_.contains(marker)), "the JFR stream saw no process start")
      val out = seen.asScala.toSeq
      seen.clear()
      out
    }
    def forks(cmds: Seq[String]) = cmds.filter(c => c.contains("chmod") || c.contains("readlink"))
    try {
      // the tripwire sees the stock file system's forks where it has them
      if (!NativeCodeLoader.isNativeCodeLoaded) {
        val (stock, _) = pair("022")
        val f = new Path(s"$root/probe")
        stock.create(f, true).close()
        stock.setPermission(f, new FsPermission("644"))
        assert(forks(drain("graft-stock")).nonEmpty)
      } else drain("graft-stock")

      val df = (1 to 200).map(i => (i.toLong, s"n$i", 2020 + i % 3, 1 + i % 4))
        .toDF("id", "name", "year", "month")
      Medallion.appendPartitioned(df, s"$root/parted", Seq("year", "month"))
      AtomicTable.replace(df, s"$root/atomic")
      AtomicTable.replace(df.filter($"id" > 100), s"$root/atomic")
      val in = s"$root/in"
      Files.createDirectories(Paths.get(in))
      Files.write(Paths.get(s"$in/a.json"), (1 to 50).map(i => s"""{"id":$i}""").asJava)
      spark.readStream.schema("id LONG").json(in)
        .writeStream.format("parquet")
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(Trigger.AvailableNow())
        .start(s"$root/sink")
        .awaitTermination()
      assert(spark.read.parquet(s"$root/sink").count() === 50)
      assert(forks(drain("graft-ours")) === Seq.empty)
    } finally rs.close()
  }
}
