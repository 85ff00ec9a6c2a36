package graft

import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFileAttributes
import org.apache.hadoop.fs.{FileSystem, LocatedFileStatus, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import scala.jdk.CollectionConverters._

import graft.exec.{NioLocalFileSystem, NioRawLocalFileSystem, Scans}

/** The session's local filesystem ([[NioLocalFileSystem]]): permission
  * reads and writes as system calls, with the statuses Hadoop's own
  * (`ls -ld`/`chmod`) path reports, and no process started by a copy. */
class LocalFsSpec extends SparkSpecBase {

  private def hadoopConf = spark.sparkContext.hadoopConfiguration

  private def fs: FileSystem = FileSystem.get(new java.net.URI("file:///"), hadoopConf)

  /** The commands of the processes the JVM started while `body` ran (the
    * recording is stopped, so flushed, before it is read). */
  private def processStarts(body: => Unit): Seq[String] = {
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val file = Files.createTempFile("graft_procs", ".jfr")
    try {
      rec.dump(file)
      jdk.jfr.consumer.RecordingFile.readAllEvents(file).asScala
        .map(_.getString("command")).toSeq
    } finally {
      rec.close()
      Files.deleteIfExists(file)
    }
  }

  private def mode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Integer].intValue & 0xfff

  test("the session's file: filesystem is the NIO one, checksums on") {
    assert(fs.getClass == classOf[NioLocalFileSystem])
    assert(fs.asInstanceOf[NioLocalFileSystem].getRawFileSystem.getClass ==
      classOf[NioRawLocalFileSystem])
    assert(new Path("/tmp").getFileSystem(hadoopConf).isInstanceOf[NioLocalFileSystem])
  }

  test("setPermission round-trips 0644 and 0755; a sticky mode takes Hadoop's path") {
    val root = Files.createTempDirectory("graft_nio_chmod")
    try {
      val file = Files.createFile(root.resolve("f"))
      val dir = Files.createDirectory(root.resolve("d"))
      for (m <- Seq(0x1a4 /* 0644 */, 0x1ed /* 0755 */, 0x1a4)) {
        assert(processStarts(fs.setPermission(new Path(file.toUri),
          new FsPermission(m.toShort))).isEmpty)
        assert(mode(file) == m)
      }
      // 01755: the sticky bit has no NIO form, so Hadoop's chmod runs
      val sticky = 0x3ed
      val forks = processStarts(fs.setPermission(new Path(dir.toUri),
        new FsPermission(sticky.toShort)))
      assert(forks.size == 1 && forks.head.startsWith("chmod"), forks)
      assert(mode(dir) == sticky)
    } finally deleteTree(root)
  }

  test("listed statuses carry NIO's permission, owner, group, length and mtime") {
    val root = Files.createTempDirectory("graft_nio_list")
    try {
      // written through the filesystem, so a `.a.parquet.crc` sits beside it
      val out = fs.create(new Path(root.resolve("a.parquet").toUri))
      try out.write(Array.fill[Byte](10)(1)) finally out.close()
      assert(Files.exists(root.resolve(".a.parquet.crc")))
      Files.write(root.resolve("b"), Array.emptyByteArray)
      val sub = Files.createDirectories(root.resolve("c=1/_temporary"))
      Files.write(sub.resolve("part"), Array.fill[Byte](3)(2))
      fs.setPermission(new Path(root.resolve("b").toUri), new FsPermission(0x180.toShort))
      fs.setPermission(new Path(root.resolve("c=1").toUri), new FsPermission(0x3ed.toShort))
      val rootPath = new Path(root.toUri)
      var listed = Seq.empty[LocatedFileStatus]
      val forks = processStarts {
        val files = fs.listFiles(rootPath, true)
        while (files.hasNext) listed :+= files.next()
        val top = fs.listLocatedStatus(rootPath)
        while (top.hasNext) listed :+= top.next()
      }
      assert(forks.isEmpty, forks)
      assert(listed.map(_.getPath.getName).toSet == Set("a.parquet", "b", "part", "c=1"),
        "checksum files stay hidden")
      // Hadoop's own statuses for the same paths (`ls -ld` per file)
      val stock = new RawLocalFileSystem
      stock.initialize(rootPath.toUri, hadoopConf)
      listed.foreach { s =>
        val p = java.nio.file.Paths.get(s.getPath.toUri)
        val nio = Files.readAttributes(p, classOf[PosixFileAttributes])
        val ref = stock.getFileStatus(s.getPath)
        assert(s.getPermission.toShort == (mode(p) & 0x3ff), p)
        assert(s.getPermission.toShort == ref.getPermission.toShort, p)
        assert(s.getOwner == nio.owner.getName && s.getGroup == nio.group.getName, p)
        assert(s.getOwner == ref.getOwner && s.getGroup == ref.getGroup, p)
        assert(s.isDirectory == nio.isDirectory, p)
        if (s.isFile) assert(s.getLen == nio.size, p)
        assert(s.getModificationTime == nio.lastModifiedTime.toMillis, p)
      }
      assert(listed.find(_.getPath.getName == "c=1").exists(_.getPermission.getStickyBit))
    } finally deleteTree(root)
  }

  test("a copy of an 8-file LINEITEM to parquet starts no process") {
    val root = Files.createTempDirectory("graft_nio_copy")
    try {
      val src = root.resolve("src").toString
      Scans.table(spark, sfDir, "lineitem").repartition(8)
        .write.parquet(s"$src/lineitem.parquet")
      Scans.table(spark, sfDir, "supplier").write.parquet(s"$src/supplier.parquet")
      var code = -1
      val forks = processStarts {
        code = Copy.run(spark, src, root.resolve("dst").toString,
          Seq("lineitem", "supplier"), truncateTables = true,
          safeCheck = "readonly", syncIdentity = true)
      }
      assert(code == 0)
      assert(forks.isEmpty, s"${forks.size} processes: ${forks.distinct.take(5)}")
    } finally deleteTree(root)
  }
}
