package graft

import java.nio.charset.StandardCharsets.{US_ASCII, UTF_8}

import graft.functions.Tar
import graft.operators.Webdataset

/** X1/S10 — TAR/ustar walk + WebDataset shard grouping: the tar-shard
  * format multimodal training loaders stream. Grammar round-trips,
  * checksum verification, the GNU longname and pax path extensions,
  * base-256 sizes, hostile inputs, and the distributed shard operators. */
class TarSpec extends SparkSpec {

  private def mk(items: (String, String)*): Array[Byte] =
    Tar.encode(items.toVector.map { case (n, c) => (n, c.getBytes(UTF_8)) })

  test("round-trip: names, bytes, 512-block padding, checksum verified") {
    val bytes = mk("a.txt" -> "hello", "dir/b.bin" -> ("x" * 1000), "c" -> "")
    assert(Tar.isTar(bytes))
    val es = Tar.entries(bytes).get
    assert(es.map(_.name) == Vector("a.txt", "dir/b.bin", "c"))
    assert(new String(es(0).bytes, UTF_8) == "hello")
    assert(es(1).bytes.length == 1000 && es(2).bytes.isEmpty)
    // a single flipped header byte fails the checksum, not returns garbage
    val bad = bytes.clone(); bad(3) = (bad(3) ^ 0x7f).toByte
    assert(Tar.entries(bad).isEmpty)
  }

  test("GNU longname: >100-byte paths round-trip through L records") {
    val long = "deep/" + ("p" * 150) + "/sample00001.png"
    assert(long.length > 100)
    val bytes = mk(long -> "img", "short.txt" -> "t")
    val es = Tar.entries(bytes).get
    assert(es.map(_.name) == Vector(long, "short.txt"))
    assert(new String(es(0).bytes, UTF_8) == "img")
  }

  test("pax extended header: the path= override is honored") {
    // hand-build: [pax 'x' record with path=] [entry named PLACEHOLDER]
    val paxBody = {
      val rec = " path=pax/override/name.txt\n"
      val len = rec.length + 2 // two-digit length prefix
      s"$len$rec".getBytes(US_ASCII)
    }
    val entry = mk("PLACEHOLDER.txt" -> "body")
    // craft the pax record with the same writer, then patch its typeflag
    val pax = Tar.encode(Vector(("pax-header", paxBody)))
    val paxBlocks = pax.dropRight(1024) // strip terminator
    paxBlocks(156) = 'x'.toByte
    // re-checksum after the patch
    java.util.Arrays.fill(paxBlocks, 148, 156, ' '.toByte)
    var sum = 0L
    for (i <- 0 until 512) sum += (paxBlocks(i) & 0xffL)
    val cs = "%06o".format(sum).getBytes(US_ASCII)
    System.arraycopy(cs, 0, paxBlocks, 148, 6)
    paxBlocks(154) = 0; paxBlocks(155) = ' '.toByte
    val es = Tar.entries(paxBlocks ++ entry).get
    assert(es.map(_.name) == Vector("pax/override/name.txt"))
    assert(new String(es(0).bytes, UTF_8) == "body")
  }

  test("pax 'g' global header: path= persists across entries; 'x' stays one-shot") {
    def paxRecord(typeflag: Char, path: String): Array[Byte] = {
      val rec = s" path=$path\n"
      val len = rec.length + 2
      val body = s"$len$rec".getBytes(US_ASCII)
      val blocks = Tar.encode(Vector(("pax-header", body))).dropRight(1024)
      blocks(156) = typeflag.toByte
      java.util.Arrays.fill(blocks, 148, 156, ' '.toByte)
      var sum = 0L
      for (i <- 0 until 512) sum += (blocks(i) & 0xffL)
      val cs = "%06o".format(sum).getBytes(US_ASCII)
      System.arraycopy(cs, 0, blocks, 148, 6)
      blocks(154) = 0; blocks(155) = ' '.toByte
      blocks
    }
    // [g path=G] [a] [b]: POSIX applies the global keyword to ALL
    // subsequent entries (ADVICE r5 — was treated as one-shot)
    val g = paxRecord('g', "global/name.txt")
    val ab = mk("a.txt" -> "A", "b.txt" -> "B").dropRight(1024)
    val es1 = Tar.entries(g ++ ab).get
    assert(es1.map(_.name) == Vector("global/name.txt", "global/name.txt"))
    assert(es1.map(e => new String(e.bytes, UTF_8)) == Vector("A", "B"))
    // [g path=G] [x path=X] [a] [b]: per-file 'x' beats the global for the
    // NEXT entry only; the global then resumes
    val x = paxRecord('x', "x/override.txt")
    val es2 = Tar.entries(g ++ x ++ ab).get
    assert(es2.map(_.name) == Vector("x/override.txt", "global/name.txt"))
  }

  test("base-256 size extension parses; hostile inputs classify") {
    val bytes = mk("a.txt" -> "12345")
    // rewrite the size field as base-256 (high bit + big-endian)
    val b = bytes.clone()
    java.util.Arrays.fill(b, 124, 136, 0.toByte)
    b(124) = 0x80.toByte; b(135) = 5
    java.util.Arrays.fill(b, 148, 156, ' '.toByte)
    var sum = 0L
    for (i <- 0 until 512) sum += (b(i) & 0xffL)
    val cs = "%06o".format(sum).getBytes(US_ASCII)
    System.arraycopy(cs, 0, b, 148, 6)
    b(154) = 0; b(155) = ' '.toByte
    assert(Tar.entries(b).get.map(e => new String(e.bytes, UTF_8)) == Vector("12345"))
    // hostility: null, empty, truncation at every block boundary, lying size
    assert(Tar.entries(null).isEmpty && Tar.entries(Array.emptyByteArray).isEmpty)
    val full = mk("a.txt" -> ("y" * 700))
    for (cut <- Seq(100, 512, 700, 1023)) assert(Tar.entries(full.take(cut)).isEmpty)
    val lying = full.clone()
    lying(124) = '7'; // size now lies far beyond the buffer
    assert(Tar.entries(lying).isEmpty)
  }

  test("webdataset decode: first-dot keys group image+txt+json; order kept") {
    val shard = Tar.encode(Vector(
      ("s00000.png", Array[Byte](1, 2, 3)),
      ("s00000.txt", "cap zero".getBytes(UTF_8)),
      ("s00000.json", """{"k":0}""".getBytes(UTF_8)),
      ("s00001.seg.jpg", Array[Byte](9)), // multi-dot ext: key at FIRST dot
      ("s00001.txt", "cap one".getBytes(UTF_8))))
    val ss = Webdataset.decode(shard).get
    assert(ss.map(_.key) == Vector("s00000", "s00001"))
    assert(ss(0).nParts == 3 && ss(0).json == """{"k":0}""" &&
      ss(0).caption == "cap zero" && ss(0).imageExt == "png")
    assert(ss(1).imageExt == "seg.jpg" && ss(1).image.toSeq == Seq(9.toByte))
  }

  test("shard operators: sink -> samples round-trip, shuffle-free, quarantine") {
    import spark.implicits._
    val pairs = (0 until 12).map(i =>
      (f"k$i%05d", Array.fill(8)(i.toByte), "png", s"caption $i"))
      .toDF("key", "image", "image_ext", "caption").repartition(3)
    val dir = graft.util.TempDirs.create("wds").toString
    val manifest = Webdataset.sink(pairs, dir).collect()
    assert(manifest.length == 3 && manifest.map(_.getLong(1)).sum == 12)
    val shards = manifest.toSeq.map(m => (m.getString(0),
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(m.getString(0)))))
      .toDF("shard_id", "bytes")
    val back = Webdataset.samples(shards)
    assert(!back.queryExecution.executedPlan.toString.contains("Exchange"),
      "shard ingest must be narrow")
    val rows = back.collect()
    assert(rows.length == 12)
    assert(rows.map(_.getString(1)).sorted.toSeq ==
      (0 until 12).map(i => f"k$i%05d"))
    rows.foreach { r =>
      val i = r.getString(1).drop(1).toInt
      assert(r.getAs[Array[Byte]](2).toSeq == Seq.fill(8)(i.toByte))
      assert(r.getString(4) == s"caption $i" && r.getInt(6) == 2)
    }
    // a corrupt shard quarantines as a row
    val junk = Seq(("bad", Array[Byte](1, 2, 3))).toDF("shard_id", "bytes")
    val q = Webdataset.samples(junk).collect()
    assert(q.length == 1 && q.head.getString(1) == "corrupt")
  }

  test("sink streaming rework: byte-identical to the buffered encoder, " +
      "re-run overwrite-safe, no orphan temps") {
    import spark.implicits._
    val pairs = (0 until 5).map(i =>
      (f"s$i%03d", Array.fill(6)(i.toByte), "png", s"cap $i"))
      .toDF("key", "image", "image_ext", "caption").repartition(1)
    val dir = graft.util.TempDirs.create("wds-stream").toString
    val m1 = Webdataset.sink(pairs, dir).collect()
    assert(m1.length == 1)
    val file = java.nio.file.Paths.get(m1.head.getString(0))
    val streamed = java.nio.file.Files.readAllBytes(file)
    // identity witness vs the whole-partition buffered encoder
    val items = (0 until 5).flatMap(i => Seq(
      (f"s$i%03d.png", Array.fill(6)(i.toByte)),
      (f"s$i%03d.txt", s"cap $i".getBytes(UTF_8)))).toVector
    assert(streamed.toSeq == Tar.encode(items).toSeq)
    assert(m1.head.getLong(2) == streamed.length, "manifest n_bytes = file size")
    // retried/speculative-style second run commits onto the existing file
    val m2 = Webdataset.sink(pairs, dir).collect()
    assert(m2.head.getString(0) == m1.head.getString(0))
    assert(java.nio.file.Files.readAllBytes(file).toSeq == streamed.toSeq)
    val tmpDir = java.nio.file.Paths.get(dir, "_temporary")
    if (java.nio.file.Files.exists(tmpDir)) {
      val leftovers = java.nio.file.Files.list(tmpDir)
      try assert(!leftovers.findAny().isPresent, "no orphan attempt files")
      finally leftovers.close()
    }
  }

  test("sink commit leaves no _temporary/ and the JVM-cached FileSystem keeps checksums") {
    import spark.implicits._
    // eight concurrent-ish attempts share one `_temporary/`: none may lose
    // its temp file to a sibling's cleanup
    val pairs = (0 until 16).map(i =>
      (f"t$i%03d", Array.fill(4)(i.toByte), "png", s"cap $i"))
      .toDF("key", "image", "image_ext", "caption").repartition(8)
    val dir = graft.util.TempDirs.create("wds-commit").toString
    assert(Webdataset.sink(pairs, dir).collect().length == 8)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "_temporary")),
      "empty _temporary/ removed after the commit")
    // the sink's no-checksum setting stays on its private instance: a file
    // written through the shared FileSystem still gets its .crc sidecar
    val conf = spark.sparkContext.hadoopConfiguration
    val shared = org.apache.hadoop.fs.FileSystem.get(new java.net.URI("file:///"), conf)
    val probe = new org.apache.hadoop.fs.Path(dir, "probe.bin")
    val out = shared.create(probe, true)
    try out.write(1) finally out.close()
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(dir, ".probe.bin.crc")),
      "shared FileSystem lost its checksum setting")
  }

  test("fromFetched: the engine's image table ships as training shards") {
    import spark.implicits._
    val fetched = Seq(
      ("img-1", Array[Byte](1), "png", "a red square"),
      ("img-2", Array[Byte](2, 3), "jpg", "a blue circle"))
      .toDF("image_id", "bytes", "fmt", "caption").repartition(1)
    val dir = graft.util.TempDirs.create("wds-fetched").toString
    val manifest = Webdataset.fromFetched(fetched, dir).collect()
    assert(manifest.map(_.getLong(1)).sum == 2)
    val bytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(manifest.head.getString(0)))
    val ss = Webdataset.decode(bytes).get
    assert(ss.map(_.key).sorted == Vector("img-1", "img-2"))
    assert(ss.find(_.key == "img-2").get.caption == "a blue circle")
    assert(ss.find(_.key == "img-2").get.imageExt == "jpg")
  }

  test("fixture closed forms: every oracle column, docIds 0..120") {
    for (d <- 0L to 120L) {
      val ss = Webdataset.decode(graft.fixtures.FixtureGen.wdsBytes(d)).get
      assert(ss.size == (1 + d % 4).toInt, s"doc $d")
      assert(ss.map(_.caption.length.toLong).sum == (1 + d % 4) * (3 + d % 6))
      assert(ss.map(_.image.length.toLong).sum == (1 + d % 4) * (10 + d % 30))
      if (d % 2 == 1) assert(ss.head.key.length > 100, "longname path active")
    }
  }
}
