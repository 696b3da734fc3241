package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileStatus, FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.Trigger

import graft.io.{ForkFreeLocalFileSystem, ForkFreeLocalFs, ForkFreeRawLocalFileSystem}

/** The session's `file:` file system: the fork-free classes are the ones
  * Spark resolves, and they leave the same files, permissions and link
  * status as Hadoop's stock local file system. */
class LocalFsSpec extends SparkSuite {
  init()

  private def conf = spark.sparkContext.hadoopConfiguration

  /** `fs` initialized on `file:///`; a checksummed one initializes its raw one too. */
  private def local[F <: FileSystem](fs: F, c: Configuration = conf): F = {
    fs.initialize(URI.create("file:///"), c)
    fs
  }

  private def perms(p: JPath): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  private def hpath(p: JPath): Path = new Path(p.toUri)

  test("the session resolves file: to the fork-free FileSystem and FileContext") {
    val fs = FileSystem.get(URI.create("file:///"), conf)
    assert(fs.isInstanceOf[ForkFreeLocalFileSystem], fs.getClass.getName)
    assert(fs.asInstanceOf[LocalFileSystem].getRaw.isInstanceOf[ForkFreeRawLocalFileSystem])
    val afs = FileContext.getLocalFSFileContext(conf).getDefaultFileSystem
    assert(afs.isInstanceOf[ForkFreeLocalFs], afs.getClass.getName)
    assert(afs.getUri == URI.create("file:///") && afs.getUriDefaultPort == -1)
    val sessionFs = new Path("file:///").getFileSystem(spark.sessionState.newHadoopConf())
    assert(sessionFs.isInstanceOf[ForkFreeLocalFileSystem])
  }

  /** The 12 permission bits of `p`: setuid, setgid, sticky and the 9 rwx bits. */
  private def mode(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  private def octal(m: String): Int = Integer.parseInt(m, 8)

  test("setPermission leaves the same mode bits as the stock raw file system") {
    val dir = Files.createTempDirectory("localfs-perm")
    val (stock, ours) = (local(new RawLocalFileSystem), local(new ForkFreeRawLocalFileSystem))
    for (m <- Seq("0000", "0600", "0644", "0700", "0755", "0777");
         kind <- Seq("file", "dir", "setgid-dir")) {
      val Seq(a, b) = Seq("stock", "ours").map { side =>
        val p = dir.resolve(s"$side-$kind-$m")
        if (kind == "file") Files.createFile(p) else Files.createDirectory(p)
        if (kind == "setgid-dir") Files.setAttribute(p, "unix:mode", Int.box(octal("2700")))
        p
      }
      val perm = new FsPermission(octal(m).toShort)
      stock.setPermission(hpath(a), perm)
      ours.setPermission(hpath(b), perm)
      assert(mode(b) == mode(a), s"$kind $m")
    }
    // the sticky bit lands in the same single call
    val sticky = Files.createDirectory(dir.resolve("sticky"))
    ours.setPermission(hpath(sticky), new FsPermission(Integer.parseInt("1777", 8).toShort))
    assert(Files.getAttribute(sticky, "unix:mode").asInstanceOf[Int] % 4096 ==
      Integer.parseInt("1777", 8))
  }

  test("create and mkdirs under a setgid directory apply the umask and keep setgid as stock does") {
    val c = new Configuration(conf)
    c.set("fs.permissions.umask-mode", "027")
    val dir = Files.createTempDirectory("localfs-umask")
    Files.setAttribute(dir, "unix:mode", Int.box(octal("2755")))
    val (stock, ours) = (local(new LocalFileSystem(new RawLocalFileSystem), c),
      local(new ForkFreeLocalFileSystem, c))
    for ((side, fs) <- Seq("stock" -> stock, "ours" -> ours)) {
      assert(fs.mkdirs(hpath(dir.resolve(s"$side/d"))))
      val out = fs.create(hpath(dir.resolve(s"$side/d/f")))
      out.write(42); out.close()
    }
    for (rel <- Seq("", "/d", "/d/f", "/d/.f.crc"))
      assert(mode(dir.resolve(s"ours$rel")) == mode(dir.resolve(s"stock$rel")), rel)
    assert(perms(dir.resolve("ours/d/f")) == "rw-r-----")
    assert((mode(dir.resolve("ours/d")) & octal("2000")) != 0, "the new directory keeps setgid")
  }

  test("getFileLinkStatus matches stock on a file, a directory and a symlink; a missing path throws") {
    val dir = Files.createTempDirectory("localfs-link")
    val file = Files.write(dir.resolve("f"), "abc".getBytes)
    val sub = Files.createDirectory(dir.resolve("d"))
    val link = Files.createSymbolicLink(dir.resolve("l"), file)
    val (stock, ours) = (local(new RawLocalFileSystem), local(new ForkFreeRawLocalFileSystem))
    def shape(s: FileStatus) = (s.getPath, s.isFile, s.isDirectory, s.isSymlink,
      if (s.isSymlink) s.getSymlink else null, s.getLen, s.getModificationTime, s.getPermission)
    // stock resolves links by the path string, so only a scheme-less
    // path reads as a symlink; both forms must match
    for (p <- Seq(file, sub, link); hp <- Seq(hpath(p), new Path(p.toString))) {
      val (a, b) = (stock.getFileLinkStatus(hp), ours.getFileLinkStatus(hp))
      assert(shape(b) == shape(a), hp.toString)
    }
    assert(ours.getFileLinkStatus(new Path(link.toString)).isSymlink)
    intercept[FileNotFoundException](ours.getFileLinkStatus(hpath(dir.resolve("missing"))))
  }

  /** Every file and directory under `root`, with its permission string. */
  private def modes(root: JPath): Seq[(JPath, String)] =
    Files.walk(root).iterator().asScala.filter(_ != root).map(p => p -> perms(p)).toSeq

  /** The permission strings stock Hadoop gives a new file and directory. */
  private def stockModes(): (String, String) = {
    val dir = Files.createTempDirectory("localfs-stock")
    val fs = local(new LocalFileSystem(new RawLocalFileSystem))
    fs.mkdirs(hpath(dir.resolve("d")))
    fs.create(hpath(dir.resolve("d/f"))).close()
    (perms(dir.resolve("d/f")), perms(dir.resolve("d")))
  }

  private def assertStockModes(root: JPath): Unit = {
    val (fileMode, dirMode) = stockModes()
    for ((p, m) <- modes(root))
      assert(m == (if (Files.isDirectory(p)) dirMode else fileMode), p.toString)
  }

  test("a partitionBy parquet write reads back the same rows, with stock permission bits") {
    import spark.implicits._
    val out = Files.createTempDirectory("localfs-parquet").resolve("t")
    val rows = (0 until 50).map(i => (i, s"k${i % 3}"))
    rows.toDF("id", "k").write.partitionBy("k").parquet(out.toString)
    val back = spark.read.parquet(out.toString).as[(Int, String)].collect().toSeq
    assert(back.sortBy(_._1) == rows)
    assert(modes(out).exists(_._1.getFileName.toString.startsWith(".part-")), "checksums written")
    assertStockModes(out)
  }

  test("a stateful streaming query restarted from its checkpoint reads back the same rows") {
    import spark.implicits._
    val root = Files.createTempDirectory("localfs-stream")
    val (src, out, ckpt) = (root.resolve("src"), root.resolve("out"), root.resolve("ckpt"))
    Files.createDirectories(src)
    def run(): Unit = {
      val counts = spark.readStream.text(src.toString).groupBy("value").count()
      val q = counts.writeStream.outputMode("complete")
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (df: DataFrame, _: Long) =>
          df.write.mode("overwrite").parquet(out.toString) }
        .start()
      q.awaitTermination()
    }
    Files.write(src.resolve("a.txt"), "x\nx\ny\n".getBytes)
    run()
    Files.write(src.resolve("b.txt"), "x\nz\n".getBytes)
    run()
    val back = spark.read.parquet(out.toString).as[(String, Long)].collect().toSet
    assert(back == Set(("x", 3L), ("y", 1L), ("z", 1L)))
    assert(Files.exists(ckpt.resolve("commits/1")), "the restart ran a second batch")
    assert(Files.exists(ckpt.resolve("state/0/0/2.delta")), "state restored and versioned")
    assertStockModes(ckpt)
  }
}
