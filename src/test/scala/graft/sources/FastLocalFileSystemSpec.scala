package graft.sources

import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, FileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** FastLocalFileSystem = stock local FS minus the subprocess chmod.
  * The contract is bit-identical permissions through the JDK call. */
class FastLocalFileSystemSpec extends AnyFunSuite {

  private def newFast(): FastRawLocalFileSystem = {
    val fs = new FastRawLocalFileSystem
    fs.initialize(java.net.URI.create("file:///"), new Configuration())
    fs
  }
  private def newStock(): RawLocalFileSystem = {
    val fs = new RawLocalFileSystem
    fs.initialize(java.net.URI.create("file:///"), new Configuration())
    fs
  }

  test("setPermission: JDK path produces the same bits as the stock " +
      "shell path, across the permission space") {
    val dir = Files.createTempDirectory("graft_fastfs").toString
    val fast = newFast()
    val stock = newStock()
    for (bits <- Seq(Integer.parseInt("600", 8), Integer.parseInt("644", 8),
        Integer.parseInt("700", 8), Integer.parseInt("755", 8),
        Integer.parseInt("775", 8), Integer.parseInt("444", 8),
        Integer.parseInt("541", 8))) {
      val a = new Path(s"$dir/fast_$bits")
      val b = new Path(s"$dir/stock_$bits")
      fast.create(a).close()
      stock.create(b).close()
      fast.setPermission(a, new FsPermission(bits.toShort))
      stock.setPermission(b, new FsPermission(bits.toShort))
      val got = fast.getFileStatus(a).getPermission.toShort
      val want = stock.getFileStatus(b).getPermission.toShort
      assert(got == want && (got.toInt & 0x1ff) == bits,
        s"bits ${bits.toOctalString}: fast ${got.toInt.toOctalString} " +
          s"vs stock ${want.toInt.toOctalString}")
    }
  }

  test("create/rename/delete roundtrip through the registered 'file' " +
      "impl yields readable files with default permissions") {
    val conf = new Configuration()
    conf.set("fs.file.impl", classOf[FastLocalFileSystem].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    val fs = FileSystem.get(java.net.URI.create("file:///"), conf)
    assert(fs.isInstanceOf[FastLocalFileSystem])
    val dir = Files.createTempDirectory("graft_fastfs2").toString
    val p = new Path(s"$dir/a.txt")
    val out = fs.create(p)
    out.write("payload".getBytes("UTF-8"))
    out.close()
    val q = new Path(s"$dir/b.txt")
    assert(fs.rename(p, q))
    // rename REFUSES an existing destination file — the engine's
    // commit-race contract (manifest publish: exactly one winner)
    val p2 = new Path(s"$dir/c.txt")
    fs.create(p2).close()
    assert(!fs.rename(p2, q),
      "rename over an existing file must refuse (commit point)")
    val in = fs.open(q)
    val buf = new Array[Byte](7)
    in.readFully(buf)
    in.close()
    assert(new String(buf, "UTF-8") == "payload")
    // default create permission = 666 & ~umask, same as stock hadoop;
    // just assert owner read+write survived the JDK path
    val perm = fs.getFileStatus(q).getPermission.toShort.toInt
    assert((perm & Integer.parseInt("600", 8)) ==
      Integer.parseInt("600", 8), perm.toOctalString)
    assert(fs.delete(new Path(dir), true))
  }

  /** What a status lookup tells a caller: kind, link target, size and
    * ownership/permission bits. */
  private def view(st: FileStatus) =
    (st.isFile, st.isDirectory, st.isSymlink,
      if (st.isSymlink) st.getSymlink.toString else "", st.getLen,
      st.getPermission.toShort, st.getOwner, st.getGroup)

  test("FileContext create + rename (the checkpoint file manager's " +
      "moves): same permissions and link status as stock LocalFs") {
    def context(impl: Option[String]): FileContext = {
      val conf = new Configuration()
      impl.foreach(conf.set("fs.AbstractFileSystem.file.impl", _))
      FileContext.getFileContext(java.net.URI.create("file:///"), conf)
    }
    val fast = context(Some(classOf[FastLocalFs].getName))
    val stock = context(None)
    assert(fast.getDefaultFileSystem.isInstanceOf[FastLocalFs])
    assert(!stock.getDefaultFileSystem.isInstanceOf[FastLocalFs])
    val dir = Files.createTempDirectory("graft_fastfs3").toString
    def land(fc: FileContext, name: String): Path = {
      val sub = new Path(s"$dir/$name/offsets")
      fc.mkdir(sub, FsPermission.getDirDefault, true)
      val tmp = new Path(sub, ".0.tmp")
      val out = fc.create(tmp,
        java.util.EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE),
        Options.CreateOpts.checksumParam(
          org.apache.hadoop.fs.Options.ChecksumOpt.createDisabled()))
      out.write("v1\n{}".getBytes("UTF-8"))
      out.close()
      val dst = new Path(sub, "0")
      fc.rename(tmp, dst, Options.Rename.OVERWRITE)
      dst
    }
    val f = land(fast, "fast")
    val s = land(stock, "stock")
    assert(view(fast.getFileLinkStatus(f)) === view(stock.getFileLinkStatus(s)))
    assert(view(fast.getFileLinkStatus(f.getParent)) ===
      view(stock.getFileLinkStatus(s.getParent)))
    assert(!fast.util().exists(new Path(f.getParent, ".0.tmp")))
    val in = fast.open(f)
    val buf = new Array[Byte](5)
    in.readFully(buf)
    in.close()
    assert(new String(buf, "UTF-8") == "v1\n{}")
    assert(FileSystem.getLocal(new Configuration())
      .delete(new Path(dir), true))
  }

  test("getFileLinkStatus without readlink: same answers as stock for " +
      "files, directories, links and dangling links") {
    val dir = Files.createTempDirectory("graft_fastfs4")
    val file = Files.write(dir.resolve("f"), Array[Byte](1, 2, 3))
    val sub = Files.createDirectory(dir.resolve("d"))
    val link = Files.createSymbolicLink(dir.resolve("l"), file)
    val dangling = Files.createSymbolicLink(dir.resolve("x"),
      dir.resolve("missing"))
    val fast = newFast()
    val stock = newStock()
    for (p <- Seq(file, sub, link, dangling)) {
      val hp = new Path(p.toString)
      assert(view(fast.getFileLinkStatus(hp)) ===
        view(stock.getFileLinkStatus(hp)), p.toString)
    }
    assert(fast.getFileLinkStatus(new Path(link.toString)).isSymlink)
    intercept[java.io.FileNotFoundException] {
      fast.getFileLinkStatus(new Path(dir.resolve("nope").toString))
    }
    Seq(dangling, link, sub, file, dir).foreach(Files.delete)
  }

  test("publish: exactly one of several racing publishers wins, and the " +
      "destination keeps the winner's bytes") {
    val conf = new Configuration()
    conf.set("fs.file.impl", classOf[FastLocalFileSystem].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    val fs = FileSystem.get(java.net.URI.create("file:///"), conf)
      .asInstanceOf[FastLocalFileSystem]
    val dir = Files.createTempDirectory("graft_fastfs5").toString
    val dst = new Path(s"$dir/0.txt")
    val srcs = (0 until 8).map { i =>
      val p = new Path(s"$dir/.0.txt.tmp-$i")
      val out = fs.create(p)
      out.write(s"writer $i".getBytes("UTF-8"))
      out.close()
      p
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    val gate = new java.util.concurrent.CountDownLatch(1)
    val attempts = srcs.map(p => pool.submit(
      new java.util.concurrent.Callable[Boolean] {
        override def call(): Boolean = {
          gate.await()
          FastLocalFileSystem.publish(fs, p, dst)
        }
      }))
    gate.countDown()
    val won = try attempts.map(_.get()) finally pool.shutdown()
    assert(won.count(identity) == 1, won.toString)
    val winner = won.indexOf(true)
    val in = fs.open(dst)
    val text = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    assert(text == s"writer $winner")
    // the winner's temp name is gone; its checksum now guards dst
    assert(!fs.exists(srcs(winner)))
    assert(fs.exists(fs.getChecksumFile(dst)))
    assert(fs.delete(new Path(dir), true))
  }
}
