package graft

import java.io.{FileNotFoundException, IOException}
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileContext, FileStatus,
  FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager

import graft.core.{ForkFreeLocalFileSystem, ForkFreeLocalFs,
  ForkFreeRawLocalFileSystem, GraftSession}

/** The fork-free `file:` adapter answers every status, listing and
  * permission question exactly as Hadoop's stock local filesystem does,
  * and is what the shared session resolves `file:` to. */
class ForkFreeLocalFsSpec extends SparkSpec {

  private def conf = spark.sparkContext.hadoopConfiguration

  private def raw(fs: RawLocalFileSystem): RawLocalFileSystem = {
    fs.initialize(URI.create("file:///"), new Configuration())
    fs
  }

  /** A tree with a file, a directory, a symlink to the file, a dangling
    * symlink and a missing path. */
  private def tree(): Map[String, java.nio.file.Path] = {
    val base = Files.createTempDirectory("graft_forkfree")
    val file = Files.write(base.resolve("f.txt"), "twelve bytes".getBytes(UTF_8))
    val dir = Files.createDirectory(base.resolve("d"))
    Files.write(dir.resolve("inner"), "x".getBytes(UTF_8))
    Map("base" -> base, "file" -> file, "dir" -> dir,
      "link" -> Files.createSymbolicLink(base.resolve("link"), file),
      "dangling" -> Files.createSymbolicLink(base.resolve("dangling"),
        base.resolve("nowhere")),
      "missing" -> base.resolve("missing"))
  }

  private def describe(s: FileStatus): String =
    Seq(s.getPath.toUri.getPath, s.getLen, s.isFile, s.isDirectory, s.isSymlink,
      s.getPermission, s.getOwner, s.getGroup,
      if (s.isSymlink) s.getSymlink else "-").mkString(" ")

  private def outcome(op: => FileStatus): String =
    try describe(op) catch { case e: FileNotFoundException => s"FNF ${e.getClass.getName}" }

  test("the shared session resolves file: to the adapter for FileSystem and FileContext") {
    val root = URI.create("file:///")
    assert(FileSystem.get(root, conf).isInstanceOf[ForkFreeLocalFileSystem])
    assert(FileSystem.get(root, spark.sessionState.newHadoopConf())
      .isInstanceOf[ForkFreeLocalFileSystem])
    assert(FileContext.getFileContext(root, conf).getDefaultFileSystem
      .isInstanceOf[ForkFreeLocalFs])
    assert(FileContext.getFileContext(conf).getDefaultFileSystem
      .isInstanceOf[ForkFreeLocalFs])
  }

  test("statuses, link statuses and listings equal the stock RawLocalFileSystem") {
    val stock = raw(new RawLocalFileSystem)
    val ours = raw(new ForkFreeRawLocalFileSystem)
    val t = tree()
    for (name <- Seq("file", "dir", "link", "dangling", "missing");
         p <- Seq(new Path(t(name).toString), new Path(t(name).toUri))) {
      assert(outcome(ours.getFileStatus(p)) == outcome(stock.getFileStatus(p)), p)
      assert(outcome(ours.getFileLinkStatus(p)) == outcome(stock.getFileLinkStatus(p)), p)
    }
    // the stock readlink sees a symlink only through an unqualified path
    val link = ours.getFileLinkStatus(new Path(t("link").toString))
    assert(link.isSymlink && link.getSymlink.toUri.getPath == t("file").toString)
    val listing = (fs: FileSystem) =>
      fs.listStatus(new Path(t("base").toString)).map(describe).sorted.toSeq
    assert(listing(ours) == listing(stock))
    assert(listing(ours).map(_.split(' ').head.split('/').last) ==
      Seq("d", "f.txt", "link"), "a dangling symlink is not listed")
    intercept[FileNotFoundException](ours.listStatus(new Path(t("missing").toString)))
    intercept[FileNotFoundException](stock.listStatus(new Path(t("missing").toString)))
  }

  test("setPermission writes what the stock filesystem reads back") {
    val stock = raw(new RawLocalFileSystem)
    val ours = raw(new ForkFreeRawLocalFileSystem)
    val t = tree()
    def perm(fs: FileSystem, p: Path) = fs.getFileStatus(p).getPermission
    // chmod through a symlink lands on its target, where it is read back
    for ((name, target) <- Seq("file" -> "file", "dir" -> "dir", "link" -> "file");
         mode <- Seq(0x180, 0x1e8, 0x1a4)) {
      val (p, back) = (new Path(t(name).toString), new Path(t(target).toString))
      val fp = new FsPermission(mode.toShort)
      ours.setPermission(p, fp)
      assert(perm(stock, back) == fp, s"$name $fp")
      assert(perm(ours, back) == fp)
      stock.setPermission(p, new FsPermission(0x1ff.toShort))
      assert(perm(ours, back) == new FsPermission(0x1ff.toShort))
    }
    // a sticky bit takes the stock chmod path and still lands
    val sticky = new FsPermission(0x3ff.toShort)
    ours.setPermission(new Path(t("dir").toString), sticky)
    assert(perm(stock, new Path(t("dir").toString)) == sticky)
    val missing = new Path(t("missing").toString)
    intercept[IOException](stock.setPermission(missing, new FsPermission(0x1a4.toShort)))
    intercept[FileNotFoundException](
      ours.setPermission(missing, new FsPermission(0x1a4.toShort)))
  }

  test("createAtomic refuses an existing file unless overwrite is allowed") {
    val dir = new Path(Files.createTempDirectory("graft_forkfree_ckpt").toUri)
    val cfm = CheckpointFileManager.create(dir, conf)
    val target = new Path(dir, "0")
    def write(overwrite: Boolean, body: String): Unit = {
      val out = cfm.createAtomic(target, overwrite)
      out.write(body.getBytes(UTF_8))
      out.close()
    }
    def read(): String = {
      val in = cfm.open(target)
      try new String(in.readAllBytes(), UTF_8) finally in.close()
    }
    write(overwrite = false, "first")
    intercept[FileAlreadyExistsException](write(overwrite = false, "second"))
    assert(read() == "first")
    write(overwrite = true, "third")
    assert(read() == "third")
  }

  test("FileSystem rename keeps the semantics of the unbound file: scheme") {
    val stockClass = FileSystem.getFileSystemClass("file", new Configuration())
    val stock = stockClass.getDeclaredConstructor().newInstance()
    stock.initialize(URI.create("file:///"), new Configuration())
    val ours = FileSystem.get(URI.create("file:///"), conf)
    def run(fs: FileSystem): Seq[Any] = {
      val base = new Path(Files.createTempDirectory("graft_forkfree_mv").toUri)
      def touch(n: String) = { val p = new Path(base, n); fs.create(p).close(); p }
      val (a, b, c) = (touch("a"), touch("b"), touch("c"))
      val d = new Path(base, "d")
      fs.mkdirs(d)
      Seq(fs.exists(new Path(base, ".b.crc")), fs.rename(a, b), fs.exists(a),
        fs.rename(a, new Path(base, "a2")), fs.exists(new Path(base, "a2")),
        fs.exists(new Path(base, ".a2.crc")), fs.rename(c, d),
        fs.exists(new Path(d, "c")))
    }
    assert(run(ours) == run(stock))
  }

  test("a file: binding set on the builder or as a system property wins") {
    val key = "spark.hadoop.fs.file.impl"
    // the builder keeps its settings in a protected map
    val field = Class.forName("org.apache.spark.sql.SparkSessionBuilder")
      .getDeclaredField("options")
    field.setAccessible(true)
    def opts(b: org.apache.spark.sql.SparkSession.Builder) =
      field.get(b).asInstanceOf[scala.collection.Map[String, String]]
    assert(opts(GraftSession.builder()).get(key) ==
      Some(classOf[ForkFreeLocalFileSystem].getName))
    assert(opts(GraftSession.builder().config(key, "my.Fs")).get(key) == Some("my.Fs"))
    System.setProperty(key, "my.Fs")
    try assert(opts(GraftSession.builder()).get(key).isEmpty)
    finally System.clearProperty(key)
  }
}
