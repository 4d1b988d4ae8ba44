package graft.cdc

import graft.SparkTestBase
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}

import java.nio.file.{Files, Paths}

/** [[NoForkLocalFileSystem]] sets the permission bits stock
  * `LocalFileSystem` sets (through a forked `chmod`), on what a table write
  * creates: files, their `.crc` siblings, and nested directories. */
class NoForkLocalFileSystemSpec extends SparkTestBase {

  private def bits(p: java.nio.file.Path): String =
    java.nio.file.attribute.PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  /** A file (with its implicit parent directories and `.crc`) and a nested
    * `mkdirs`, made through `fs`; returns the paths it made. */
  private def layout(fs: FileSystem, conf: Configuration): Seq[java.nio.file.Path] = {
    fs.initialize(java.net.URI.create("file:///"), conf)
    val root = tmpDir("nofork")
    val out = fs.create(new Path(root, "a/bucket=0/part-0.parquet"), true)
    try out.write(Array[Byte](1, 2, 3)) finally out.close()
    assert(fs.mkdirs(new Path(root, "x/y/z")))
    Seq("a", "a/bucket=0", "a/bucket=0/part-0.parquet", "a/bucket=0/.part-0.parquet.crc",
      "x", "x/y", "x/y/z").map(Paths.get(root, _))
  }

  for (umask <- Seq("022", "027", "077"))
    test(s"same permission bits as LocalFileSystem under umask $umask") {
      val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
      conf.set("fs.permissions.umask-mode", umask)
      val stock = layout(new LocalFileSystem(), conf)
      val noFork = layout(new NoForkLocalFileSystem(), conf)
      stock.zip(noFork).foreach { case (s, n) =>
        assert(Files.exists(n), n)
        assert(bits(n) == bits(s), s"$n vs $s")
      }
    }

  test("a merged epoch's bucket files and bucket directories carry LocalFileSystem's bits") {
    val stock = layout(new LocalFileSystem(), spark.sparkContext.hadoopConfiguration)
    val (dirBits, fileBits) = (bits(stock(1)), bits(stock(2)))
    val table = new SnapshotTable(spark, tmpDir("noforkepoch"), 8)
    new CdcEngine(spark, table, EngineConfig(numBuckets = 8))
      .applyEpoch(EventGen.events(spark, 0, 4000, GenConfig(numKeys = 400)), 0L)
    val snap = new java.io.File(table.root, "data/snap-0")
    val bucketDirs = snap.listFiles().filter(_.getName.startsWith("bucket="))
    assert(bucketDirs.length == 8)
    val dirs = snap +: bucketDirs.toSeq
    val files = bucketDirs.toSeq.flatMap(_.listFiles()) ++
      new java.io.File(table.root).listFiles().filter(_.getName.startsWith("manifest-v"))
    assert(files.exists(_.getName.endsWith(".parquet")) && files.exists(_.getName.endsWith(".crc")))
    dirs.foreach(d => assert(bits(d.toPath) == dirBits, d))
    files.foreach(f => assert(bits(f.toPath) == fileBits, f))
  }
}
