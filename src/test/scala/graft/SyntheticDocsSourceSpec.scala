package graft

/** Partition-slicing edge cases for the DataSource V2 connector: no id may
  * be dropped or duplicated at slice boundaries under any (rows,
  * partitions) combination. */
class SyntheticDocsSourceSpec extends SparkTestBase {

  private def load(rows: Long, partitions: Int) =
    spark.read.format("graft.sources.SyntheticDocsSource")
      .option("rows", rows.toString).option("partitions", partitions.toString)
      .load()

  test("row count and id completeness across uneven splits") {
    for ((rows, parts) <- Seq((10L, 4), (3L, 8), (1L, 1), (1000L, 7), (16L, 16))) {
      val df = load(rows, parts)
      assert(df.count() == rows, s"rows=$rows parts=$parts")
      val ids = df.select("doc_id").collect().map(_.getLong(0)).sorted
      assert(ids.toSeq == (0L until rows), s"rows=$rows parts=$parts ids=$ids")
    }
  }

  test("generation contract matches rowFor") {
    val row = load(100, 4).where("doc_id = 42").collect().head
    val (id, lang, nTokens, checksum) = graft.sources.SyntheticDocsSource.rowFor(42L)
    assert(row.getLong(0) == id)
    assert(row.getString(1) == lang)
    assert(row.getInt(2) == nTokens)
    assert(row.getLong(3) == checksum)
  }

  test("withMedia payloads are genuine PNGs whose pixels match the contract") {
    import graft.sources.SyntheticDocsSource._
    val df = spark.read.format("graft-docs")
      .option("rows", 10).option("partitions", 2).option("withMedia", "true").load()
    val rows = df.select("doc_id", "png", "frames").collect()
    assert(rows.length == 10)
    val pngMagic = Array(0x89.toByte, 'P'.toByte, 'N'.toByte, 'G'.toByte)
    rows.foreach { r =>
      val id = r.getLong(0)
      val png = r.getAs[Array[Byte]]("png")
      // real PNG container, decodable by a third party (ImageIO here)
      assert(png.take(4).sameElements(pngMagic), s"doc $id: not a PNG")
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
      val (w, h) = imageDims(id)
      assert(img.getWidth == w && img.getHeight == h)
      // lossless roundtrip: every decoded pixel equals the generator
      for (y <- 0 until h; x <- 0 until w) {
        val p = img.getRGB(x, y)
        assert(((p >> 16) & 0xff) == pixelR(id, x, y), s"doc $id R($x,$y)")
        assert(((p >> 8) & 0xff) == pixelG(id, x, y), s"doc $id G($x,$y)")
        assert((p & 0xff) == pixelB(id, x, y), s"doc $id B($x,$y)")
      }
      // frames: length-prefixed PNG container per frame
      val in = new java.io.DataInputStream(
        new java.io.ByteArrayInputStream(r.getAs[Array[Byte]]("frames")))
      var n = 0
      while (in.available() >= 4) {
        val len = in.readInt()
        val buf = new Array[Byte](len)
        in.readFully(buf)
        assert(buf.take(4).sameElements(pngMagic), s"doc $id frame $n: not a PNG")
        val fr = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(buf))
        assert(fr.getWidth == frameWidth && fr.getHeight == frameHeight)
        assert(fr.getRaster.getSample(3, 2, 0) == framePixel(id, n, 3, 2))
        n += 1
      }
      assert(n == frameCount(id))
    }
  }

  test("scan prunes unprojected columns down to the generator") {
    // For a generator source pruning skips WORK, not just bytes: projecting
    // only `wav` must not encode PNGs. Assert the leaf scan's output schema
    // is exactly the projection.
    val pruned = spark.read.format("graft-docs")
      .option("rows", 5).option("partitions", 1).option("withMedia", "true")
      .load().select("doc_id", "wav")
    val leaf = pruned.queryExecution.executedPlan.collectLeaves().head
    assert(leaf.output.map(_.name) == Seq("doc_id", "wav"),
      leaf.output.mkString(","))
    assert(pruned.count() == 5)
  }

  test("withMedia wav payloads are genuine RIFF/WAVE decodable by javax.sound") {
    import graft.sources.SyntheticDocsSource._
    val df = spark.read.format("graft-docs")
      .option("rows", 10).option("partitions", 2).option("withMedia", "true").load()
    df.select("doc_id", "wav").collect().foreach { r =>
      val id = r.getLong(0)
      val wav = r.getAs[Array[Byte]]("wav")
      assert(new String(wav.take(4), "US-ASCII") == "RIFF", s"doc $id: not RIFF")
      val ais = javax.sound.sampled.AudioSystem
        .getAudioInputStream(new java.io.ByteArrayInputStream(wav))
      val fmt = ais.getFormat
      assert(fmt.getSampleRate.toInt == wavSampleRate)
      assert(fmt.getChannels == 1 && fmt.getSampleSizeInBits == 16 && !fmt.isBigEndian)
      val bytes = ais.readAllBytes()
      assert(bytes.length / 2 == wavSampleCount(id), s"doc $id sample count")
      // lossless roundtrip: every decoded PCM16 sample equals the generator
      (0 until wavSampleCount(id)).foreach { i =>
        val s = (bytes(2 * i + 1) << 8) | (bytes(2 * i) & 0xff)
        assert(s == wavSample(id, i), s"doc $id sample $i")
      }
    }
  }
}
