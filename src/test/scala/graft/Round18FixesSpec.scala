package graft

import java.io.File
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.fs.{Path => HPath, RawLocalFileSystem}
import org.apache.spark.sql.functions._
import graft.operators.SnapshotTable

/** Round-18 pins (optimization round 2).
  *
  * 1. [[graft.fs.FastLocalFileSystem]] is WIRED (round-17 shipped it
  *    dead): Engine.configure installs it as the `file://` impl, its
  *    metadata answers match stock RawLocalFileSystem, and a
  *    sticky/setuid/setgid chmod falls back to the parent instead of
  *    being silently masked to 0x1ff.
  * 2. Footer-stats fast path correctness (round-17 ADVICE):
  *    TimestampNTZ columns (INT64 TIMESTAMP, isAdjustedToUTC=false)
  *    fall back to the scan path — the scan renders NTZ as kind "str"
  *    (trimmed cast) while the footer's fixed-width micros rendering
  *    would prune files that hold an equality probe's key.
  * 3. Zone string bounds compare/merge in CODE POINT order (== UTF-8
  *    byte order == Spark's UTF8String order): Java String's UTF-16
  *    code-unit order disagrees for supplementary-plane characters
  *    (emoji), so a footer cross-block merge or an intersectsStr probe
  *    under it could prune a file that contains matches.
  */
class Round18FixesSpec extends SparkSpec {

  private val base = "target/test_round18_fixes"

  private def wipe(dir: String): Unit = {
    def del(f: File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(del); f.delete()
    }
    val root = new File(dir)
    if (root.exists()) del(root)
  }

  private def parquetsOf(dir: String): Seq[String] =
    new File(dir).listFiles().map(_.getName)
      .filter(n => n.endsWith(".parquet") && !n.startsWith(".")).toSeq

  // ---------------------------------------------------------------
  // FastLocalFileSystem
  // ---------------------------------------------------------------

  test("Engine.configure wires FastLocalFileSystem as the file:// impl") {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      java.net.URI.create("file:///"),
      spark.sparkContext.hadoopConfiguration)
    assert(fs.isInstanceOf[graft.fs.FastLocalFileSystem],
      s"file:// resolved to ${fs.getClass.getName}")
  }

  test("FastRawLocalFileSystem getFileStatus/listStatus parity with RawLocalFileSystem") {
    val dir = s"$base/fs_parity"
    wipe(dir)
    new File(s"$dir/sub").mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/a.txt"), "hello".getBytes)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/b.txt"), "world!!".getBytes)
    // sticky, setgid and setuid modes (chmod: neither PosixFilePermission
    // nor FsPermission can request setuid/setgid)
    new File(s"$dir/sticky").mkdirs()
    Seq("sticky" -> "1777", "setgid.txt" -> "2755", "setuid.txt" -> "4755")
      .foreach { case (n, mode) =>
        if (n.endsWith(".txt")) java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$dir/$n"), Array.emptyByteArray)
        val rc = new ProcessBuilder("chmod", mode, s"$dir/$n").start()
          .waitFor()
        assert(rc == 0, s"chmod $mode $n")
      }
    val conf = new org.apache.hadoop.conf.Configuration(false)
    val stock = new RawLocalFileSystem()
    stock.initialize(java.net.URI.create("file:///"), conf)
    val fast = new graft.fs.FastRawLocalFileSystem()
    fast.initialize(java.net.URI.create("file:///"), conf)
    val p = new HPath(new File(dir).getAbsolutePath)
    val (ss, fs) = (stock.listStatus(p), fast.listStatus(p))
    assert(fs.map(_.getPath.getName).toSeq.sorted ==
      ss.map(_.getPath.getName).toSeq.sorted)
    ss.sortBy(_.getPath.getName).zip(fs.sortBy(_.getPath.getName))
      .foreach { case (a, b) =>
        assert(a.getPath == b.getPath)
        assert(a.getLen == b.getLen, s"${a.getPath} length")
        assert(a.isDirectory == b.isDirectory, s"${a.getPath} isDir")
        assert(a.getModificationTime == b.getModificationTime,
          s"${a.getPath} mtime")
        assert(a.getPermission == b.getPermission,
          s"${a.getPath}: stock=${a.getPermission} fast=${b.getPermission}")
      }
    assert(fs.exists(st => st.getPath.getName == "sticky" &&
      st.getPermission.getStickyBit), "sticky bit dropped")
    // single-file status parity too
    Seq("a.txt", "sticky", "setgid.txt", "setuid.txt").foreach { n =>
      val one = new HPath(new File(s"$dir/$n").getAbsolutePath)
      assert(stock.getFileStatus(one).getPermission ==
        fast.getFileStatus(one).getPermission, n)
    }
    intercept[java.io.FileNotFoundException] {
      fast.getFileStatus(new HPath(s"$dir/definitely_missing"))
    }
    intercept[java.io.FileNotFoundException] {
      fast.listStatus(new HPath(s"$dir/definitely_missing_dir"))
    }
  }

  test("FastRawLocalFileSystem setPermission: syscall parity and sticky-bit fallback") {
    val dir = s"$base/fs_chmod"
    wipe(dir)
    new File(dir).mkdirs()
    val f = new File(s"$dir/c.txt")
    java.nio.file.Files.write(f.toPath, "x".getBytes)
    val conf = new org.apache.hadoop.conf.Configuration(false)
    val fast = new graft.fs.FastRawLocalFileSystem()
    fast.initialize(java.net.URI.create("file:///"), conf)
    val p = new HPath(f.getAbsolutePath)
    fast.setPermission(p, new FsPermission(Integer.parseInt("640", 8).toShort))
    def mode(): Int =
      java.nio.file.Files.getAttribute(f.toPath, "unix:mode")
        .asInstanceOf[Integer].intValue() & 4095 // 07777
    assert(mode() == Integer.parseInt("640", 8))
    // sticky bit can't ride PosixFilePermission — must NOT be dropped
    fast.setPermission(p,
      new FsPermission(Integer.parseInt("1644", 8).toShort))
    assert(mode() == Integer.parseInt("1644", 8),
      "sticky bit must fall back to the parent chmod path, not be masked")
    fast.setPermission(p, new FsPermission(Integer.parseInt("644", 8).toShort))
    assert(mode() == Integer.parseInt("644", 8))
    intercept[java.io.FileNotFoundException] {
      fast.setPermission(new HPath(s"$dir/missing.txt"),
        new FsPermission(Integer.parseInt("644", 8).toShort))
    }
  }

  // ---------------------------------------------------------------
  // Footer-stats fast path
  // ---------------------------------------------------------------

  test("footer path falls back for TimestampNTZ, and scan/footer zones agree end-to-end") {
    val dir = s"$base/ntz"
    wipe(dir)
    spark.range(10)
      .selectExpr(
        "cast(id as string) as k",
        "cast(timestamp'2021-01-01 00:00:00' + make_interval(0,0,0,0,0,0,id) as timestamp_ntz) as ts")
      .coalesce(1).write.parquet(dir)
    val rels = parquetsOf(dir)
    // NTZ is written as INT64 TIMESTAMP(isAdjustedToUTC=false): the
    // footer path must refuse it (scan renders NTZ as kind "str")
    assert(SnapshotTable.footerFileMeta(spark, dir, rels, Seq("ts")).isEmpty,
      "TimestampNTZ must force the scan fallback")
    val (fr, fz) = SnapshotTable.collectFileMeta(spark, dir, rels, Seq("ts"))
    val (sr, sz) = SnapshotTable.collectFileMetaScan(spark, dir, rels, Seq("ts"))
    assert(fr == sr)
    assert(fz == sz)
    assert(fz.values.forall(_.kind == "str"),
      "scan path renders NTZ zones as kind str (trimmed cast)")
    // the trimmed rendering is what an equality probe produces: a
    // fixed-width micros zone would fail this containment
    val z = fz.head._2
    assert(z.intersectsStr("2021-01-01 00:00:00", "2021-01-01 00:00:00"))
  }

  test("footer path handles UTC-adjusted timestamps and agrees with the scan path") {
    val dir = s"$base/ts_utc"
    wipe(dir)
    val prev = spark.conf.getOption("spark.sql.parquet.outputTimestampType")
    try {
      spark.conf.set("spark.sql.parquet.outputTimestampType",
        "TIMESTAMP_MICROS")
      spark.range(10)
        .selectExpr(
          "cast(id as string) as k",
          "timestamp'2021-06-01 12:00:00' + make_interval(0,0,0,0,0,0,id) as ts")
        .coalesce(1).write.parquet(dir)
    } finally prev match {
      case Some(v) =>
        spark.conf.set("spark.sql.parquet.outputTimestampType", v)
      case None =>
        spark.conf.unset("spark.sql.parquet.outputTimestampType")
    }
    val rels = parquetsOf(dir)
    val footer = SnapshotTable.footerFileMeta(spark, dir, rels, Seq("ts"))
    assert(footer.isDefined, "UTC-adjusted INT64 micros stays on the fast path")
    val (sr, sz) = SnapshotTable.collectFileMetaScan(spark, dir, rels, Seq("ts"))
    assert(footer.get._1 == sr)
    assert(footer.get._2 == sz)
    assert(sz.values.forall(_.kind == "ts"))
  }

  test("footer cross-block merge of supplementary-plane string bounds matches the scan path") {
    val dir = s"$base/supp"
    wipe(dir)
    import spark.implicits._
    // U+E000 (BMP private-use) vs U+1F600 (supplementary, surrogate
    // pair D83D DE00): code-point order puts the emoji ABOVE, UTF-16
    // code-unit order puts it BELOW — exactly where Java-order merges
    // go wrong. Long pad + tiny block size forces multiple row groups
    // so the cross-block merge really runs.
    val priv = "\uE000"          // U+E000
    val emoji = "\uD83D\uDE00"  // U+1F600 as a surrogate pair
    val probe = "\uFFFD"         // U+FFFD, between the two in code points
    val pad = "x" * 120
    val rows = (0 until 400).map { i =>
      val s = if (i < 200) f"$i%03d$pad" else f"😀$i%03d$pad"
      (i, s)
    }
    rows.toDF("id", "s").coalesce(1).sortWithinPartitions("id")
      .write
      .option("parquet.block.size", "4096")
      .option("parquet.page.size", "1024")
      .parquet(dir)
    val rels = parquetsOf(dir)
    // the point of the fixture is a multi-row-group file — verify
    val nBlocks = {
      import org.apache.parquet.hadoop.ParquetFileReader
      import org.apache.parquet.hadoop.util.HadoopInputFile
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(
        new HPath(s"$dir/${rels.head}"),
        spark.sparkContext.hadoopConfiguration))
      try r.getFooter.getBlocks.size() finally r.close()
    }
    assert(nBlocks > 1, s"fixture must span row groups, got $nBlocks")
    val footer = SnapshotTable.footerFileMeta(spark, dir, rels, Seq("s"))
    assert(footer.isDefined)
    val (sr, sz) = SnapshotTable.collectFileMetaScan(spark, dir, rels, Seq("s"))
    assert(footer.get._1 == sr)
    assert(footer.get._2 == sz,
      "footer-merged bounds must equal Spark's binary-order min/max")
    // and the merged max really is the supplementary-plane value
    val z = sz.head._2
    assert(z.max.startsWith(emoji),
      s"code-point max must be the emoji row, got ${z.max.take(4).toSeq}")
    // a BMP probe between the two planes must intersect (UTF-16
    // comparison would have pruned the file: max starts with a
    // surrogate, which sorts BELOW U+FFFD in code units)
    assert(z.intersectsStr(probe, probe),
      "probe between U+E000 and U+1F600 must keep the file")
    // open-interval sentinels stay unbounded under code-point order
    assert(z.intersectsStr("", "\uFFFF" * 8),
      "the U+FFFF sentinel means 'no upper bound', not a real bound")
  }

  test("ZoneStat.cmpCp is exactly unsigned UTF-8 byte order") {
    val vals = Seq("", "a", "ab", "b", "é", "", "�",
      "￿", "😀", "😁a", "z￿", "z")
    def utf8Cmp(a: String, b: String): Int = {
      val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      java.util.Arrays.compareUnsigned(x, y)
    }
    for (a <- vals; b <- vals) {
      assert(Integer.signum(SnapshotTable.ZoneStat.cmpCp(a, b)) ==
        Integer.signum(utf8Cmp(a, b)),
        s"cmpCp disagrees with UTF-8 order on ${a.toSeq} vs ${b.toSeq}")
    }
  }
}
