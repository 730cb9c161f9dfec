package graft

import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions
import java.util.EnumSet

import org.apache.hadoop.fs.{CreateFlag, FileAlreadyExistsException, FileContext,
  FileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The session's `file:` filesystem (graft.core.NioLocalFs.scala) behaves
  * like Hadoop's stock local filesystem: same permissions, `.crc`
  * sidecars, rename semantics and symlink status. */
class LocalFsSpec extends SparkSpec {

  private def conf = spark.sessionState.newHadoopConf()
  private def fs = FileSystem.get(new URI("file:///"), conf)
  private def fc = FileContext.getLocalFSFileContext(conf)

  /** Hadoop's stock raw local filesystem, the permission reference. */
  private def stock = {
    val raw = new RawLocalFileSystem
    raw.initialize(new URI("file:///"), conf)
    raw
  }

  private def tmp(prefix: String) =
    new Path(Files.createTempDirectory(prefix).toUri)

  private def perms(p: Path) = PosixFilePermissions.toString(
    Files.getPosixFilePermissions(Paths.get(p.toUri)))

  test("the session's file: FileSystem and FileContext are the NIO classes") {
    assert(fs.getClass === classOf[graft.core.NioLocalFileSystem])
    assert(fs.asInstanceOf[org.apache.hadoop.fs.LocalFileSystem].getRaw.getClass
      === classOf[graft.core.NioRawLocalFileSystem])
    assert(fc.getDefaultFileSystem.getClass === classOf[graft.core.NioLocalFs])
  }

  test("created dirs and files get the permissions stock Hadoop gives siblings") {
    val root = tmp("graft-localfs-perm")
    val ref = stock
    Seq("700", "750", "755", "777").foreach { mode =>
      val perm = new FsPermission(mode)
      assert(fs.mkdirs(new Path(root, s"fs-d$mode"), perm))
      fc.mkdir(new Path(root, s"fc-d$mode"), perm, true)
      assert(ref.mkdirs(new Path(root, s"ref-d$mode"), perm))
      assert(perms(new Path(root, s"fs-d$mode")) === perms(new Path(root, s"ref-d$mode")))
      assert(perms(new Path(root, s"fc-d$mode")) === perms(new Path(root, s"ref-d$mode")))
    }
    Seq("600", "640", "644", "666").foreach { mode =>
      val perm = new FsPermission(mode)
      fs.create(new Path(root, s"fs-f$mode"), perm, true, 4096, 1.toShort,
        1L << 25, null).close()
      fc.create(new Path(root, s"fc-f$mode"), EnumSet.of(CreateFlag.CREATE),
        Options.CreateOpts.perms(perm)).close()
      ref.create(new Path(root, s"ref-f$mode"), perm, true, 4096, 1.toShort,
        1L << 25, null).close()
      assert(perms(new Path(root, s"fs-f$mode")) === perms(new Path(root, s"ref-f$mode")))
      assert(perms(new Path(root, s"fc-f$mode")) === perms(new Path(root, s"ref-f$mode")))
    }
    // the default create path (permission from the umask) too
    fs.create(new Path(root, "fs-default")).close()
    ref.create(new Path(root, "ref-default")).close()
    assert(perms(new Path(root, "fs-default")) === perms(new Path(root, "ref-default")))
  }

  test("setPermission sets exactly the nine bits, and sticky still applies") {
    val root = tmp("graft-localfs-chmod")
    val f = new Path(root, "f")
    fs.create(f).close()
    Seq("000", "400", "421", "705", "777").foreach { mode =>
      fs.setPermission(f, new FsPermission(mode))
      assert(fs.getFileStatus(f).getPermission.toString ===
        new FsPermission(mode).toString)
    }
    val d = new Path(root, "d")
    assert(fs.mkdirs(d))
    fs.setPermission(d, new FsPermission("1777"))
    assert(fs.getFileStatus(d).getPermission.getStickyBit)
  }

  test("checksums stay on: files written through both APIs get a .crc sidecar") {
    val root = tmp("graft-localfs-crc")
    val viaFs = new Path(root, "via-fs")
    val out = fs.create(viaFs)
    out.write(Array.fill[Byte](1000)(7))
    out.close()
    val viaFc = new Path(root, "via-fc")
    val out2 = fc.create(viaFc, EnumSet.of(CreateFlag.CREATE))
    out2.write(Array.fill[Byte](1000)(7))
    out2.close()
    assert(fs.exists(new Path(root, ".via-fs.crc")))
    assert(fs.exists(new Path(root, ".via-fc.crc")))
    val in = fs.open(viaFs)
    try assert(in.read() === 7) finally in.close()
  }

  test("FileContext rename keeps its overwrite semantics") {
    val root = tmp("graft-localfs-rename")
    val src = new Path(root, "src")
    val dst = new Path(root, "dst")
    fc.create(src, EnumSet.of(CreateFlag.CREATE)).close()
    fc.create(dst, EnumSet.of(CreateFlag.CREATE)).close()
    intercept[FileAlreadyExistsException](fc.rename(src, dst))
    assert(fc.util.exists(src))
    fc.rename(src, dst, Options.Rename.OVERWRITE)
    assert(!fc.util.exists(src) && fc.util.exists(dst))
    // the destination's checksum moved with it
    assert(!fs.exists(new Path(root, ".src.crc")))
    assert(fs.exists(new Path(root, ".dst.crc")))
  }

  test("getFileLinkStatus reports real symlinks and plain files as stock Hadoop does") {
    val root = tmp("graft-localfs-link")
    val target = new Path(root, "target")
    fs.create(target).close()
    val link = new Path(root, "link")
    Files.createSymbolicLink(Paths.get(link.toUri), Paths.get(target.toUri))
    // stock Hadoop runs `readlink` on Path.toString, so it sees a link
    // only through a scheme-less path; real links go to that same code,
    // so both spellings answer as stock Hadoop answers them
    val bare = new Path(link.toUri.getPath)
    Seq(fs.getFileLinkStatus(bare), fc.getFileLinkStatus(bare)).foreach { st =>
      assert(st.isSymlink)
      assert(st.getSymlink.toUri.getPath === target.toUri.getPath)
    }
    Seq(bare, link).foreach { p =>
      assert(fs.getFileLinkStatus(p).isSymlink === stock.getFileLinkStatus(p).isSymlink)
    }
    val plain = fs.getFileLinkStatus(target)
    assert(!plain.isSymlink && plain.isFile)
    assert(plain.getLen === stock.getFileLinkStatus(target).getLen)
    intercept[java.io.FileNotFoundException](
      fs.getFileLinkStatus(new Path(root, "missing")))
  }
}
