package graft

import graft.merge.{MergeConfig, MergeInto}
import graft.sources.HttpFeedServer
import graft.stream.{CdcStream, StreamConfig}
import graft.table.LakeTable
import graft.util.{LocalFs, NioLocalFileSystem, NioLocalFs, NioRawLocalFileSystem}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileStatus, FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.types._

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions
import scala.jdk.CollectionConverters._

/** The engine's local filesystem ([[graft.util.LocalFs]]) sets the modes
  * Hadoop's own sets, without forking `chmod`, reports the link status
  * Hadoop's own reports, without forking `readlink`, and the engine's entry
  * points route both Hadoop APIs to it.
  */
class LocalFsSpec extends SparkSpec {

  private def octal(s: String): Short = Integer.parseInt(s, 8).toShort

  /** Permission and special bits of `p`, as `stat` reports them. */
  private def unixMode(p: Path): Int =
    Files.getAttribute(Paths.get(p.toUri.getPath), "unix:mode").asInstanceOf[Int] & 0xfff

  private def localFs[F <: FileSystem](fs: F): F = {
    fs.initialize(URI.create("file:///"), new Configuration())
    fs
  }

  /** A regular file, a directory, a missing path, a symlink to the file
    * and a dangling symlink under a new directory, each named both with
    * and without the `file:` scheme.
    */
  private def linkCases(): Seq[(String, Path)] = {
    val dir = Paths.get(tmpDir("localfs-links"))
    val file = Files.write(dir.resolve("file"), "x".getBytes)
    Files.createDirectory(dir.resolve("dir"))
    Files.createSymbolicLink(dir.resolve("link"), file)
    Files.createSymbolicLink(dir.resolve("dangling"), dir.resolve("gone"))
    for {
      name <- Seq("file", "dir", "missing", "link", "dangling")
      (form, p) <- Seq("unqualified" -> new Path(dir.resolve(name).toString),
        "qualified" -> new Path(s"file:${dir.resolve(name)}"))
    } yield s"$form $name" -> p
  }

  /** What a `getFileLinkStatus` call reports: its status fields, or the
    * class of what it threw.
    */
  private def linkStatus(get: Path => FileStatus, p: Path): Either[String, Seq[Any]] =
    try {
      val s = get(p)
      Right(Seq(s.getPath, s.isFile, s.isDirectory, s.isSymlink,
        if (s.isSymlink) s.getSymlink else None, s.getLen, s.getModificationTime,
        s.getPermission, s.getOwner, s.getGroup))
    } catch { case e: java.io.IOException => Left(e.getClass.getName) }

  /** Asserts `nio` reports what `hadoop` reports for every case. */
  private def assertLinkParity(hadoop: Path => FileStatus, nio: Path => FileStatus): Unit = {
    val cases = linkCases()
    cases.foreach { case (what, p) =>
      assert(linkStatus(nio, p) === linkStatus(hadoop, p), what)
    }
    val byCase = cases.toMap.view.mapValues(linkStatus(hadoop, _)).toMap
    assert(byCase("qualified file").exists(_(1) == true))
    assert(byCase("qualified dir").exists(_(2) == true))
    assert(byCase("qualified missing") === Left(classOf[java.io.FileNotFoundException].getName))
    assert(byCase("unqualified link").exists(_(3) == true), "a symlink reads as one")
  }

  test("files and directories get the modes Hadoop's forked chmod gives them") {
    val dir = tmpDir("localfs-modes")
    // Hadoop's RawLocalFileSystem forks chmod here (no libhadoop): the reference
    val impls = Seq("hadoop" -> localFs(new RawLocalFileSystem),
      "nio" -> localFs(new NioRawLocalFileSystem))
    for (m <- Seq("600", "640", "644", "700", "755", "777")) {
      val perm = new FsPermission(octal(m))
      val modes = impls.map { case (name, fs) =>
        val f = new Path(s"$dir/$name-$m.file")
        val d = new Path(s"$dir/$name-$m.dir")
        fs.create(f, perm, false, 4096, 1.toShort, 1L << 20, null).close()
        assert(fs.mkdirs(d, perm))
        val created = (unixMode(f), unixMode(d))
        fs.setPermission(f, perm)
        fs.setPermission(d, perm)
        assert(unixMode(f) === octal(m).toInt, s"$name file $m")
        assert(unixMode(d) === octal(m).toInt, s"$name dir $m")
        created
      }
      assert(modes.distinct.size === 1, s"create/mkdirs at $m: $modes")
    }
  }

  test("a sticky-bit directory mode still applies") {
    val dir = tmpDir("localfs-sticky")
    val fs = localFs(new NioRawLocalFileSystem)
    val d = new Path(s"$dir/shared")
    assert(fs.mkdirs(d))
    fs.setPermission(d, new FsPermission(octal("1777")))
    assert(unixMode(d) === octal("1777").toInt)
  }

  test("after an engine call both Hadoop APIs resolve file: to the graft classes") {
    import spark.implicits._
    val work = tmpDir("localfs-resolve")
    val batch = Seq((1L, "a", "U", Seq(1), 1, "s"))
      .toDF("lsn", "doc_id", "op", "tokens", "n_tok", "source")
    MergeInto.apply(spark, LakeTable(s"$work/t"), batch, "cp", 0, MergeConfig(numBuckets = 2))
    val conf = spark.sessionState.newHadoopConf()
    assert(FileSystem.get(URI.create("file:///"), conf).isInstanceOf[NioLocalFileSystem])
    assert(FileContext.getFileContext(conf).getDefaultFileSystem.isInstanceOf[NioLocalFs])
  }

  test("install leaves a user's file: implementation alone and is idempotent") {
    val user = new Configuration(false)
    user.set("fs.file.impl", classOf[RawLocalFileSystem].getName)
    LocalFs.install(user)
    assert(user.get("fs.file.impl") === classOf[RawLocalFileSystem].getName)
    assert(user.get("fs.file.impl.disable.cache") === null)
    assert(user.get("fs.AbstractFileSystem.file.impl") === null)

    def entries(c: Configuration): Map[String, String] =
      c.iterator.asScala.map(e => e.getKey -> e.getValue).toMap
    val conf = new Configuration()
    LocalFs.install(conf)
    val once = entries(conf)
    LocalFs.install(conf)
    assert(entries(conf) === once)
    assert(conf.get("fs.file.impl") === classOf[NioLocalFileSystem].getName)
    assert(conf.get("fs.AbstractFileSystem.file.impl") === classOf[NioLocalFs].getName)
  }

  test("a flush, a stream batch and its merge leave files rw-r--r-- and directories rwxr-xr-x") {
    // the modes below are those of a process umask of 022, under which
    // Hadoop's own writes and java.io's mkdirs agree
    val work = tmpDir("localfs-tree")
    val probe = Files.createFile(Paths.get(work, "umask-probe"))
    try assume(PosixFilePermissions.toString(Files.getPosixFilePermissions(probe)) ==
      "rw-r--r--", "process umask is not 022")
    finally Files.delete(probe)
    val schema = StructType(Seq(
      StructField("lsn", LongType), StructField("doc_id", StringType),
      StructField("op", StringType), StructField("tokens", ArrayType(IntegerType)),
      StructField("n_tok", IntegerType), StructField("source", StringType)))
    val srv = HttpFeedServer.start(spark, s"$work/feed", schema, flushEvery = Int.MaxValue)
    try {
      val body = (1 to 20).map(i =>
        s"""{"lsn":$i,"doc_id":"k${i % 7}","op":"U","tokens":[$i],"n_tok":1,"source":"h"}""")
        .mkString("\n")
      val res = HttpClient.newHttpClient().send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:${srv.port}/events"))
          .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(res.statusCode() === 202)
      assert(srv.flush()._2 === 20L)
    } finally srv.stop()
    CdcStream.runToCompletion(spark, StreamConfig(feedDir = s"$work/feed",
      tableDir = s"$work/table", checkpointDir = s"$work/ckpt",
      merge = MergeConfig(numBuckets = 4, lineageDir = Some(s"$work/lineage")))).count()

    val walk = Files.walk(Paths.get(work))
    // the test's own temp dir (0700 by createTempDirectory) is not the engine's
    val entries = try walk.iterator.asScala.filterNot(_ == Paths.get(work)).toVector
      finally walk.close()
    val modes = entries.map(p => p -> PosixFilePermissions.toString(Files.getPosixFilePermissions(p)))
    val (dirs, files) = modes.partition { case (p, _) => Files.isDirectory(p) }
    // every layer wrote something: the segment, checkpoint logs, data files
    Seq("/feed/seg=0/", "/ckpt/offsets/", "/ckpt/commits/", "/table/data/s", "/table/meta/",
      "/lineage/").foreach(part => assert(files.exists(_._1.toString.contains(part)), part))
    assert(files.forall(_._2 == "rw-r--r--"), files.filterNot(_._2 == "rw-r--r--"))
    assert(dirs.forall(_._2 == "rwxr-xr-x"), dirs.filterNot(_._2 == "rwxr-xr-x"))
  }

  test("getFileLinkStatus through FileSystem reports what Hadoop's reports") {
    assertLinkParity(localFs(new RawLocalFileSystem).getFileLinkStatus,
      localFs(new NioRawLocalFileSystem).getFileLinkStatus)
    assertLinkParity(localFs(new LocalFileSystem).getFileLinkStatus,
      localFs(new NioLocalFileSystem).getFileLinkStatus)
  }

  test("getFileLinkStatus through FileContext reports what Hadoop's reports") {
    def context(afs: Option[String]): FileContext = {
      val conf = new Configuration()
      afs.foreach(conf.set("fs.AbstractFileSystem.file.impl", _))
      FileContext.getFileContext(URI.create("file:///"), conf)
    }
    val hadoop = context(None)
    val nio = context(Some(classOf[NioLocalFs].getName))
    assert(nio.getDefaultFileSystem.isInstanceOf[NioLocalFs])
    assert(!hadoop.getDefaultFileSystem.isInstanceOf[NioLocalFs])
    assertLinkParity(hadoop.getFileLinkStatus, nio.getFileLinkStatus)
  }
}
