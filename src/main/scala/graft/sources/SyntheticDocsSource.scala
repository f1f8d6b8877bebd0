package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/**
 * Custom DataSource V2 connector (the "sources" surface): a deterministic
 * synthetic document generator, registered by class name:
 *
 *   spark.read.format("graft.sources.SyntheticDocsSource")
 *     .option("rows", 1000).option("partitions", 8).load()
 *
 * Schema: (doc_id BIGINT, lang STRING, n_tokens INT, checksum BIGINT) —
 * all derived arithmetically from doc_id, so any engine can recompute the
 * same rows (the DuckDB oracle regenerates them from range()).
 *
 * Scale design: the row range splits evenly into `partitions` input
 * partitions; each PartitionReader streams its slice without
 * materialization, so the source parallelizes like any file scan.
 */
class SyntheticDocsSource extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {
  /** Short name (ServiceLoader-registered): `spark.read.format("graft-docs")`. */
  override def shortName(): String = "graft-docs"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    SyntheticDocsSource.schemaFor(
      options.getBoolean("withMedia", false),
      options.getBoolean("withEmbedding", false))

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new SyntheticDocsTable(
      properties.getOrDefault("rows", "1000").toLong,
      properties.getOrDefault("partitions", "4").toInt,
      properties.getOrDefault("withMedia", "false").toBoolean,
      properties.getOrDefault("withEmbedding", "false").toBoolean)
}

object SyntheticDocsSource {
  val schema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("lang", StringType, nullable = false),
    StructField("n_tokens", IntegerType, nullable = false),
    StructField("checksum", LongType, nullable = false)))

  /** Option-dependent schema: [+png, frames media payloads] [+embedding]. */
  def schemaFor(withMedia: Boolean, withEmbedding: Boolean = false): StructType = {
    var s = schema
    if (withMedia) {
      s = s.add(StructField("png", BinaryType, nullable = false))
      s = s.add(StructField("frames", BinaryType, nullable = false))
      s = s.add(StructField("wav", BinaryType, nullable = false))
    }
    if (withEmbedding)
      s = s.add(StructField("embedding",
        ArrayType(FloatType, containsNull = false), nullable = false))
    s
  }

  val langs: Array[String] = Array("de", "en", "es", "fr", "zh")

  /** The row-generation contract (mirrored by the SQL oracle). */
  def rowFor(id: Long): (Long, String, Int, Long) = {
    val lang = langs((id % 5).toInt)
    val nTokens = (id * 37 % 91 + 10).toInt
    val checksum = (id * 1315423911L) % 1000000007L
    (id, lang, nTokens, checksum)
  }

  // ---- Media payloads (`withMedia=true`): GENUINE PNGs, in-JDK ----------
  // The image/video columns a multimodal pipeline carries: real PNG bytes
  // (java.awt.image + javax.imageio — lossless, so decoded pixels equal
  // the generating arithmetic exactly). Pixel values are pure functions of
  // (doc_id, frame, x, y), which is what lets the DuckDB oracle recompute
  // every DECODED feature independently — if ImageIO encode OR decode were
  // wrong, the feature compare would fail.

  /** Image dims vary per doc: width 4–8, height 3–6. */
  def imageDims(id: Long): (Int, Int) =
    ((4 + id % 5).toInt, (3 + id % 4).toInt)

  /** RGB pixel channel functions (each in 0..255). */
  def pixelR(id: Long, x: Int, y: Int): Int = ((id * 7 + x * 13 + y * 31) % 256).toInt
  def pixelG(id: Long, x: Int, y: Int): Int = ((id * 11 + x * 17 + y * 5) % 256).toInt
  def pixelB(id: Long, x: Int, y: Int): Int = ((id * 3 + x * 19 + y * 23) % 256).toInt

  /** A real RGB PNG whose pixels follow the channel functions above. */
  def pngFor(id: Long): Array[Byte] = {
    val (w, h) = imageDims(id)
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        img.setRGB(x, y,
          (pixelR(id, x, y) << 16) | (pixelG(id, x, y) << 8) | pixelB(id, x, y))
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Video-style payload: 5–12 grayscale 8×6 PNG frames, each length-
    * prefixed (4-byte big-endian) and concatenated. */
  val frameWidth = 8
  val frameHeight = 6
  def frameCount(id: Long): Int = (5 + id % 8).toInt
  def framePixel(id: Long, f: Int, x: Int, y: Int): Int =
    ((id * 7 + f * 41 + x * 13 + y * 31) % 256).toInt

  def framesFor(id: Long): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val dos = new java.io.DataOutputStream(bos)
    var f = 0
    val n = frameCount(id)
    while (f < n) {
      val img = new java.awt.image.BufferedImage(
        frameWidth, frameHeight, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      val raster = img.getRaster
      var y = 0
      while (y < frameHeight) {
        var x = 0
        while (x < frameWidth) {
          raster.setSample(x, y, 0, framePixel(id, f, x, y))
          x += 1
        }
        y += 1
      }
      val fb = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", fb)
      val bytes = fb.toByteArray
      dos.writeInt(bytes.length)
      dos.write(bytes)
      f += 1
    }
    dos.flush()
    bos.toByteArray
  }

  /** Audio-style payload: a genuine RIFF/WAVE container (PCM16 mono,
    * 8 kHz) whose samples are a pure function of (doc_id, i) — so the
    * decoded amplitude features are recomputable by arithmetic alone,
    * exactly like the PNG pixels. */
  val wavSampleRate = 8000
  def wavSampleCount(id: Long): Int = (64 + id % 97).toInt
  def wavSample(id: Long, i: Int): Int =
    ((id * 7919 + i.toLong * 104729) % 65536).toInt - 32768

  // ---- Clustered embeddings (`withEmbedding=true`, r05) -----------------
  // The geometry an ANN recall claim needs: the testdata embeddings are
  // direction-UNclustered (within-label max cosine ≈ 0.45), where IVF
  // recall ≈ its scan fraction BY THEORY — so a recall≥0.9 assertion needs
  // vectors that actually cluster. Cluster c = id % embedClusters occupies
  // dims [6c, 6c+6) with base magnitude 8 plus uniform noise in [-0.5,
  // 0.5) on every dim: within-cluster cosine ≈ 0.97, cross-cluster ≈ 0,
  // and everything is a pure function of doc_id (LCG stream), like every
  // other column here.

  val embedDim = 64
  val embedClusters = 10
  def embedClusterOf(id: Long): Int = (id % embedClusters).toInt

  def embeddingFor(id: Long): Array[Float] = {
    val c = embedClusterOf(id)
    val a = new Array[Float](embedDim)
    var h = id * 2654435761L + 1000003L
    var d = 0
    while (d < embedDim) {
      h = h * 6364136223846793005L + 1442695040888963407L
      val noise = (h >>> 33).toDouble / (1L << 31).toDouble - 0.5
      a(d) = (noise + (if (d >= 6 * c && d < 6 * c + 6) 8.0 else 0.0)).toFloat
      d += 1
    }
    a
  }

  def wavFor(id: Long): Array[Byte] = {
    val n = wavSampleCount(id)
    val dataSize = n * 2
    val buf = java.nio.ByteBuffer.allocate(44 + dataSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataSize)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1)                       // PCM
      .putShort(1)                       // mono
      .putInt(wavSampleRate)
      .putInt(wavSampleRate * 2)         // byte rate
      .putShort(2)                       // block align
      .putShort(16)                      // bits per sample
      .put("data".getBytes("US-ASCII")).putInt(dataSize)
    var i = 0
    while (i < n) {
      buf.putShort(wavSample(id, i).toShort)
      i += 1
    }
    buf.array()
  }
}

private class SyntheticDocsTable(rows: Long, partitions: Int,
    withMedia: Boolean, withEmbedding: Boolean = false)
    extends Table with SupportsRead {
  override def name(): String = s"synthetic_docs($rows)"
  override def schema(): StructType =
    SyntheticDocsSource.schemaFor(withMedia, withEmbedding)
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava
  // Column pruning matters MORE for a generator than a file source: an
  // unprojected media column isn't just unread bytes, it's a skipped PNG/WAV
  // encode per row (q51/q74/q110 each project exactly one payload column).
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with Scan with Batch with SupportsPushDownRequiredColumns {
      private var required: StructType = schema()
      override def pruneColumns(requiredSchema: StructType): Unit =
        required = requiredSchema
      override def build(): Scan = this
      override def readSchema(): StructType = required
      override def toBatch: Batch = this
      override def planInputPartitions(): Array[InputPartition] = {
        val step = math.max(1L, (rows + partitions - 1) / partitions)
        (0L until rows by step)
          .map(start => DocsRange(start, math.min(start + step, rows)): InputPartition)
          .toArray
      }
      override def createReaderFactory(): PartitionReaderFactory =
        DocsReaderFactory(required.fieldNames.toSeq)
    }
}

/** Standalone serializable factory (a lambda would capture the scan).
  * Generates ONLY the projected columns, in projection order; the
  * name→generator dispatch is resolved ONCE per reader so the per-row
  * path is a plain array walk with no string matching. */
private case class DocsReaderFactory(fields: Seq[String])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val DocsRange(start, end) = partition
    new PartitionReader[InternalRow] {
      // rowFor is computed at most once per row, shared by the base columns
      private var cachedId = Long.MinValue
      private var cached: (Long, String, Int, Long) = _
      private def base(id: Long): (Long, String, Int, Long) = {
        if (id != cachedId) { cached = SyntheticDocsSource.rowFor(id); cachedId = id }
        cached
      }
      private val gens: Array[Long => Any] = fields.map[Long => Any] {
        case "doc_id"   => id => base(id)._1
        case "lang"     => id => UTF8String.fromString(base(id)._2)
        case "n_tokens" => id => base(id)._3
        case "checksum" => id => base(id)._4
        case "png"      => id => SyntheticDocsSource.pngFor(id)
        case "frames"   => id => SyntheticDocsSource.framesFor(id)
        case "wav"      => id => SyntheticDocsSource.wavFor(id)
        case "embedding" => id =>
          new org.apache.spark.sql.catalyst.util.GenericArrayData(
            SyntheticDocsSource.embeddingFor(id))
        case other => throw new IllegalArgumentException(s"unknown column: $other")
      }.toArray
      private var id = start - 1
      override def next(): Boolean = { id += 1; id < end }
      override def get(): InternalRow = {
        // fresh array per row: the returned InternalRow may be buffered
        // downstream, so the backing storage must not be reused
        val row = new Array[Any](gens.length)
        var i = 0
        while (i < gens.length) { row(i) = gens(i)(id); i += 1 }
        InternalRow.fromSeq(scala.collection.immutable.ArraySeq.unsafeWrapArray(row))
      }
      override def close(): Unit = ()
    }
  }
}

private case class DocsRange(start: Long, end: Long) extends InputPartition
