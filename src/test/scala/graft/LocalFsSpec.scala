package graft

import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, FileContext, FileStatus, FileSystem, FsConstants, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

import graft.fs.{InProcessLocalFileSystem, LocalFileSystem, LocalFs}
import graft.sink.ExactlyOnceParquetSink

/** The in-process `file:` filesystem against Hadoop's stock one: the same
  * link status (or the same exception) for every kind of path, the same
  * permissions after `setPermission`, `create` and `mkdirs`, the same
  * `.crc` sidecars, a set-if-absent install, and sink writer options that
  * leave the JVM-wide `FileSystem` alone. */
class LocalFsSpec extends SparkSpec {

  private val StockImpl = "org.apache.hadoop.fs.local.LocalFs"
  private val StockFsImpl = "org.apache.hadoop.fs.LocalFileSystem"

  private def rawFs(fs: RawLocalFileSystem): RawLocalFileSystem = {
    fs.initialize(FsConstants.LOCAL_FS_URI, new Configuration())
    fs
  }

  private def fileContext(impl: String): FileContext = {
    val conf = new Configuration()
    conf.set(LocalFs.ImplKey, impl)
    FileContext.getFileContext(FsConstants.LOCAL_FS_URI, conf)
  }

  private def linkStatus(get: Path => FileStatus, p: Path): Either[(Class[_], String), Seq[Any]] =
    try {
      val st = get(p)
      Right(Seq(st.getPath, st.isDirectory, st.isSymlink, st.getLen,
        if (st.isSymlink) st.getSymlink else null))
    } catch { case e: Exception => Left((e.getClass, e.getMessage)) }

  /** file, directory, symlink, dangling symlink and missing path, each
    * as a plain absolute path and as a `file:` URI. */
  private def linkFixture(): Seq[Path] = {
    val d = Paths.get(tmpDir("graft_localfs_link"))
    val file = Files.write(d.resolve("file"), Array.fill[Byte](37)(1))
    val dir = Files.createDirectory(d.resolve("dir"))
    val link = Files.createSymbolicLink(d.resolve("link"), file)
    val dangling = Files.createSymbolicLink(d.resolve("dangling"), d.resolve("gone"))
    val missing = d.resolve("missing")
    Seq(file, dir, link, dangling, missing).flatMap(p =>
      Seq(new Path(p.toString), new Path(p.toUri)))
  }

  test("getFileLinkStatus matches stock RawLocalFileSystem and FileContext") {
    val paths = linkFixture()
    val stock = rawFs(new RawLocalFileSystem)
    val ours = rawFs(new InProcessLocalFileSystem)
    val stockFc = fileContext(StockImpl)
    val oursFc = fileContext(classOf[LocalFs].getName)
    paths.foreach { p =>
      assert(linkStatus(ours.getFileLinkStatus, p) == linkStatus(stock.getFileLinkStatus, p), p)
      assert(linkStatus(oursFc.getFileLinkStatus, p) == linkStatus(stockFc.getFileLinkStatus, p), p)
    }
    // the fixture covers every branch: a symlink status, a plain status
    // and a missing-path exception
    val got = paths.map(linkStatus(ours.getFileLinkStatus, _))
    assert(got.exists(_.exists(_(2) == true)))
    assert(got.exists(_.exists(_(2) == false)))
    assert(got.exists(_.isLeft))
  }

  test("setPermission leaves the same POSIX permissions as the stock chmod") {
    val d = Paths.get(tmpDir("graft_localfs_perm"))
    val stock = rawFs(new RawLocalFileSystem)
    val ours = rawFs(new InProcessLocalFileSystem)
    Seq("600", "644", "700", "755", "777").foreach { octal =>
      val mode = new FsPermission(Integer.parseInt(octal, 8).toShort)
      val a = Files.createFile(d.resolve(s"stock_$octal"))
      val b = Files.createFile(d.resolve(s"ours_$octal"))
      stock.setPermission(new Path(a.toString), mode)
      ours.setPermission(new Path(b.toString), mode)
      assert(Files.getPosixFilePermissions(b) == Files.getPosixFilePermissions(a), octal)
      assert(PosixFilePermissions.toString(Files.getPosixFilePermissions(b)) == mode.toString)
    }
    // a sticky-bit mode takes the stock path
    val sa = Files.createDirectory(d.resolve("sticky_stock"))
    val sb = Files.createDirectory(d.resolve("sticky_ours"))
    val sticky = new FsPermission(Integer.parseInt("1777", 8).toShort)
    stock.setPermission(new Path(sa.toString), sticky)
    ours.setPermission(new Path(sb.toString), sticky)
    assert(ours.getFileStatus(new Path(sb.toString)).getPermission ==
      stock.getFileStatus(new Path(sa.toString)).getPermission)
  }

  test("install is set-if-absent and FileContext then resolves file: to LocalFs") {
    val fresh = spark.newSession()
    LocalFs.install(fresh)
    LocalFs.install(fresh)
    assert(fresh.conf.get(LocalFs.ImplKey) == classOf[LocalFs].getName)

    val user = spark.newSession()
    user.conf.set(LocalFs.ImplKey, StockImpl)
    LocalFs.install(user)
    assert(user.conf.get(LocalFs.ImplKey) == StockImpl)

    // set in the Hadoop conf (as spark.hadoop.* would) also counts as user-set
    val hc = spark.sparkContext.hadoopConfiguration
    val (default, sources) = (hc.get(LocalFs.ImplKey), hc.getPropertySources(LocalFs.ImplKey))
    hc.set(LocalFs.ImplKey, StockImpl)
    try {
      val viaHadoop = spark.newSession()
      LocalFs.install(viaHadoop)
      assert(viaHadoop.conf.getOption(LocalFs.ImplKey).isEmpty)
    } finally hc.set(LocalFs.ImplKey, default, sources.last)

    val conf = new Configuration()
    conf.set(LocalFs.ImplKey, fresh.conf.get(LocalFs.ImplKey))
    assert(AbstractFileSystem.get(new URI("file:///"), conf).isInstanceOf[LocalFs])
  }

  test("FileSystem-API LocalFileSystem: same files, sidecars and permissions as stock") {
    def tree(fs: FileSystem, root: java.nio.file.Path): Map[String, (String, Seq[Byte])] = {
      val r = new Path(root.toString)
      fs.mkdirs(new Path(r, "a/b"))
      fs.mkdirs(new Path(r, "private"), new FsPermission(Integer.parseInt("700", 8).toShort))
      val out = fs.create(new Path(r, "a/b/data"))
      try out.write(Array.tabulate[Byte](1000)(_.toByte)) finally out.close()
      val priv = fs.create(new Path(r, "private/data"),
        new FsPermission(Integer.parseInt("600", 8).toShort), true, 4096, 1.toShort, 1L << 20, null)
      try priv.write(Array[Byte](1, 2, 3)) finally priv.close()
      val st = Files.walk(root)
      try st.iterator().asScala.filterNot(_ == root).map { p =>
        root.relativize(p).toString ->
          (PosixFilePermissions.toString(Files.getPosixFilePermissions(p)),
            if (Files.isRegularFile(p)) Files.readAllBytes(p).toSeq else Seq.empty[Byte])
      }.toMap
      finally st.close()
    }
    def fs(f: FileSystem): FileSystem = { f.initialize(FsConstants.LOCAL_FS_URI, new Configuration()); f }
    val d = Paths.get(tmpDir("graft_localfs_create"))
    val stock = tree(fs(new org.apache.hadoop.fs.LocalFileSystem), Files.createDirectory(d.resolve("stock")))
    val ours = tree(fs(new LocalFileSystem), Files.createDirectory(d.resolve("ours")))
    assert(ours == stock)
    assert(Set("a/b/.data.crc", "private/.data.crc").subsetOf(ours.keySet))
    assert(ours("private")._1 == "rwx------" && ours("private/data")._1 == "rw-------")
  }

  test("sink writer options use LocalFileSystem, scoped to the write job") {
    val hadoopKeys = Map(LocalFs.FsImplKey -> classOf[LocalFileSystem].getName,
      s"${LocalFs.FsImplKey}.disable.cache" -> "true")
    val fresh = spark.newSession()
    assert(LocalFs.writerOptions(fresh) == hadoopKeys)

    // after a sink write, the JVM-wide cached FileSystem for file: is the
    // same stock instance (on the Spark classpath the stock class is Hive's
    // ProxyLocalFileSystem, found first by Hadoop's service loader)
    val confs = Seq(spark.sparkContext.hadoopConfiguration, new Configuration())
    val before = confs.map(FileSystem.get(new URI("file:///"), _))
    import fresh.implicits._
    val sink = new ExactlyOnceParquetSink(tmpDir("graft_localfs_sink"))
    sink.addBatch(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), 0L)
    assert(sink.readCommitted(fresh).count() == 2)
    confs.zip(before).foreach { case (c, fs0) =>
      val fs = FileSystem.get(new URI("file:///"), c)
      assert((fs eq fs0) && !fs.isInstanceOf[LocalFileSystem], fs.getClass)
    }

    // a user-set fs.file.impl is respected, in the session or the Hadoop conf
    val user = spark.newSession()
    user.conf.set(LocalFs.FsImplKey, StockFsImpl)
    assert(LocalFs.writerOptions(user).isEmpty)
    val hc = spark.sparkContext.hadoopConfiguration
    val (default, sources) = (hc.get(LocalFs.FsImplKey), hc.getPropertySources(LocalFs.FsImplKey))
    hc.set(LocalFs.FsImplKey, StockFsImpl)
    try assert(LocalFs.writerOptions(spark.newSession()).isEmpty)
    finally Option(sources) match {
      case Some(s) => hc.set(LocalFs.FsImplKey, default, s.last)
      case None => hc.unset(LocalFs.FsImplKey)
    }
    // and once unset again, it no longer counts as user-set
    assert(LocalFs.writerOptions(spark.newSession()) == hadoopKeys)
  }
}
