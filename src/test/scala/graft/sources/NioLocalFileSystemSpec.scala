package graft.sources

import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => NioPath, Paths}
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** [[NioLocalFileSystem]] creates files and dirs with the stock `file:`
  * FileSystem's permissions, and its rename publishes a file
  * put-if-absent. */
class NioLocalFileSystemSpec extends AnyFunSuite {

  private val conf = new Configuration()

  private def nioFs(): FileSystem = {
    val fs = new NioLocalFileSystem
    fs.initialize(URI.create("file:///"), conf)
    fs
  }

  private def tempDir(): NioPath = {
    val d = Files.createTempDirectory("graft_niofs")
    d.toFile.deleteOnExit()
    d
  }

  private def mode(p: NioPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0x0fff

  private def write(fs: FileSystem, p: Path, text: String): Unit = {
    val out = fs.create(p, false)
    try out.write(text.getBytes(UTF_8)) finally out.close()
  }

  private def read(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  test("files, checksums and nested dirs get the stock file: " +
    "FileSystem's permissions; sticky bits take the stock path") {
    val base = tempDir()
    val stock = new Path(base.toUri).getFileSystem(conf)
    assert(!stock.isInstanceOf[NioLocalFileSystem])
    val nio = nioFs()
    def layout(fs: FileSystem, top: String): Seq[Int] = {
      val f = new Path(new Path(base.toUri), s"$top/f")
      write(fs, f, "x")
      fs.mkdirs(new Path(new Path(base.toUri), s"$top/a/b"))
      fs.setPermission(f, new FsPermission("640"))
      Seq(s"$top", s"$top/f", s"$top/.f.crc", s"$top/a", s"$top/a/b")
        .map(n => mode(base.resolve(n)))
    }
    val stockModes = layout(stock, "stock")
    assert(layout(nio, "nio") == stockModes)
    assert(stockModes(1) == Integer.parseInt("640", 8))
    val sticky = new FsPermission(Integer.parseInt("1777", 8).toShort)
    stock.setPermission(new Path(new Path(base.toUri), "stock/a"), sticky)
    nio.setPermission(new Path(new Path(base.toUri), "nio/a"), sticky)
    assert(mode(base.resolve("nio/a")) == Integer.parseInt("1777", 8))
    assert(mode(base.resolve("nio/a")) == mode(base.resolve("stock/a")))
  }

  test("racing renames onto one target: exactly one wins, and the target " +
    "holds the winner's bytes and checksum") {
    val fs = nioFs()
    val writers = 8
    val pool = Executors.newFixedThreadPool(writers)
    try (1 to 10).foreach { round =>
      val dir = new Path(tempDir().toUri)
      val target = new Path(dir, "v1.json")
      val tmps = (0 until writers).map { w =>
        val tmp = new Path(dir, s".tmp-$w")
        write(fs, tmp, s"writer $w of round $round")
        tmp
      }
      val gate = new CountDownLatch(1)
      val results = tmps.map { tmp =>
        pool.submit(new Callable[Boolean] {
          def call(): Boolean = { gate.await(); fs.rename(tmp, target) }
        })
      }
      gate.countDown()
      val won = results.map(_.get(60, TimeUnit.SECONDS))
      assert(won.count(identity) == 1, s"round $round: $won")
      val w = won.indexOf(true)
      // read through the checksum: a wrong .crc fails the read
      assert(Files.exists(Paths.get(dir.toUri).resolve(".v1.json.crc")))
      assert(read(fs, target) == s"writer $w of round $round")
      assert(tmps.zipWithIndex.forall { case (t, i) => fs.exists(t) == (i != w) })
    } finally pool.shutdown()
  }

  test("rename keeps the stock file: rules: an existing target file " +
    "refuses, a target dir receives, a dir moves") {
    val stock = new Path("file:///").getFileSystem(conf)
    for (fs <- Seq(stock, nioFs())) {
      val dir = new Path(tempDir().toUri)
      val (a, b) = (new Path(dir, "a"), new Path(dir, "b"))
      write(fs, a, "a")
      write(fs, b, "b")
      assert(!fs.rename(a, b))
      assert(read(fs, a) == "a" && read(fs, b) == "b")
      val sub = new Path(dir, "sub")
      fs.mkdirs(sub)
      assert(fs.rename(a, sub))
      assert(read(fs, new Path(sub, "a")) == "a" && !fs.exists(a))
      val moved = new Path(dir, "moved")
      assert(fs.rename(sub, moved))
      assert(read(fs, new Path(moved, "a")) == "a" && !fs.exists(sub))
    }
  }
}
