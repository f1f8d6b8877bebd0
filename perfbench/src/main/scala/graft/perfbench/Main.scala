package graft.perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._
import scala.util.hashing.MurmurHash3

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{Row, SparkSession}

import graft.SparkEntry
import graft.engine.{CacheReaper, Tables}

/** One benchmark run in one process: a closed loop over the given key
  * order on `local[cores]`, each query starting when the previous count()
  * returns. Writes raw records (one JSON object a line) to `--out`; the
  * Python front end turns them into metrics.
  *
  * Set-up: session start, one untimed check pass (collect() and an
  * order-insensitive result hash of every key), which also warms every
  * plan shape, and `--warmup` untimed count() passes, numbered -N..-1,
  * which take the JIT past the steepest part of its warm-up (the first
  * passes after the check pass run up to twice as slow as later ones).
  * Timed count() passes follow until `--seconds` have elapsed.
  * Every pass starts library-cold: shared frames released, table memos
  * cleared. With `--trace 1` odd passes are untraced and even passes are
  * traced, so one run yields both the per-layer figures and the tracing
  * overhead.
  *
  * Usage: Main --data DIR --cores N --order k1,k2,... --warmup N
  *   --seconds S --trace 0|1 --out FILE [--t0-us EPOCH_US] */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val t0 = opt.get("t0-us").map(_.toLong).getOrElse(Clock.us())
    val order = opt("order").split(",").toSeq
    val unknown = order.filterNot(SparkEntry.queries.contains)
    if (unknown.nonEmpty) {
      System.err.println(s"perfbench: unknown query keys: ${unknown.mkString(",")}")
      sys.exit(2)
    }
    val cores = opt("cores").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        new java.io.File(System.getProperty("java.io.tmpdir"), "warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val rec = new Records
    val run = new Run(spark, rec, opt("data"), order, opt("trace") == "1")
    try run.all(t0, opt("warmup").toInt, opt("seconds").toDouble)
    finally {
      rec.writeTo(opt("out"))
      spark.stop()
    }
  }

  /** Order-insensitive 64-bit hash of a result: the wrapping sum of each
    * row's hash, over a canonical rendering (binary as hex, maps sorted by
    * key) so that equal results hash equal across processes. */
  def resultHash(rows: Iterable[Row]): String = {
    def canon(v: Any): String = v match {
      case null => "null"
      case b: Array[Byte] => b.map(x => f"$x%02x").mkString("0x", "", "")
      case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
      case m: scala.collection.Map[_, _] =>
        m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted
          .mkString("{", ",", "}")
      case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
      case other => other.toString
    }
    val sum = rows.foldLeft(0L) { (acc, r) =>
      val s = canon(r)
      acc + ((MurmurHash3.stringHash(s, 0x3c6ef372).toLong << 32) |
        (MurmurHash3.stringHash(s, 0x1b873593) & 0xffffffffL))
    }
    f"$sum%016x"
  }

  private[perfbench] def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
}

final class Run(spark: SparkSession, rec: Records, data: String,
    order: Seq[String], trace: Boolean) {
  private val sc = spark.sparkContext
  private val spans = new Spans(rec)
  private val runSpan = spans.open()
  private val jobs = new JobTracer(rec)
  private val streams = new StreamTracer(rec)
  private val scans = new ScanTracer(rec)
  if (trace) {
    sc.addSparkListener(jobs)
    spark.streams.addListener(streams)
    spark.listenerManager.register(scans)
  }

  def all(t0: Long, warmup: Int, seconds: Double): Unit = {
    pass(0, "check", traced = false)
    (-warmup to -1).foreach(pass(_, "warmup", traced = false))
    val setupEnd = Clock.us()
    rec.add("t" -> "setup", "s" -> (setupEnd - t0) / 1e6)
    var p = 0
    // Odd passes untraced, even ones traced. A traced run makes at least
    // three, so that both kinds are measured.
    while ((Clock.us() - setupEnd) / 1e6 < seconds || (trace && p < 3)) {
      p += 1
      pass(p, "timed", traced = trace && p % 2 == 0)
    }
    spans.close(runSpan, 0, "run", "run", t0)
  }

  private def storage(): Seq[org.apache.spark.storage.RDDInfo] =
    sc.getRDDStorageInfo.toSeq.filter(_.isCached)

  private def pass(p: Int, kind: String, traced: Boolean): Unit = {
    CacheReaper.release()
    Tables.clearSchemaCache()
    if (traced) scans.reset(storage().map(_.id))
    jobs.active = traced
    spans.timed(runSpan, "pass", s"$kind $p") { id =>
      order.foreach(key => query(p, key, id, traced, check = kind == "check"))
    }
    jobs.active = false
    if (traced) {
      // Table resolution from cold, timed at the layer's entry point; the
      // next pass clears the memos again before it starts.
      Tables.clearSchemaCache()
      val t = System.nanoTime()
      Tables.all.foreach(Tables.table(spark, data, _))
      rec.add("t" -> "tables", "pass" -> p, "s" -> (System.nanoTime() - t) / 1e9)
    }
  }

  /** One execution: the builder call, then (traced only) planning, then
    * count() — or, in the check pass, collect() and the result hash. */
  private def query(p: Int, key: String, passSpan: Long, traced: Boolean,
      check: Boolean): Unit = {
    sc.setJobGroup(key, s"perfbench pass $p", interruptOnCancel = false)
    sc.setLocalProperty(Ctx.Pass, p.toString)
    sc.setLocalProperty(Ctx.Key, key)
    val times = scala.collection.mutable.LinkedHashMap[String, Double]()
    var rows = -1L
    var hash: Option[String] = None
    var error: Option[String] = None
    var gc = 0L
    val t0 = System.nanoTime()
    spans.timed(passSpan, "query", key) { qid =>
      def phase[T](name: String)(f: => T): T = spans.timed(qid, name, key) { sid =>
        sc.setLocalProperty(Ctx.Phase, name)
        sc.setLocalProperty(Ctx.Span, sid.toString)
        if (traced) {
          val c = Some(Ctx(p, key, name, sid))
          streams.ctx = c
          scans.ctx = c
        }
        val s = System.nanoTime()
        try f finally times(name) = (System.nanoTime() - s) / 1e9
      }
      try {
        val df = phase("construct")(SparkEntry.queries(key)(spark, data))
        if (traced) phase("plan")(df.queryExecution.executedPlan)
        val gc0 = Main.gcMs()
        phase("execute") {
          if (check) {
            val result = df.collect()
            rows = result.length.toLong
            hash = Some(Main.resultHash(result))
          } else rows = df.count()
        }
        gc = Main.gcMs() - gc0
      } catch {
        case e: Throwable =>
          error = Some(String.valueOf(e.getMessage).linesIterator.nextOption()
            .getOrElse(e.getClass.getName))
      }
    }
    val latency = (System.nanoTime() - t0) / 1e9
    if (traced) PerfbenchBus.drain(sc)
    streams.ctx = None
    scans.ctx = None
    Seq(Ctx.Pass, Ctx.Key, Ctx.Phase, Ctx.Span).foreach(sc.setLocalProperty(_, null))
    sc.clearJobGroup()
    val stored = storage()
    rec.add("t" -> "q", "pass" -> p, "key" -> key, "traced" -> traced,
      "latency" -> latency, "construct" -> times.get("construct"),
      "plan" -> times.get("plan"), "execute" -> times.get("execute"),
      "gc_ms" -> gc, "rows" -> rows, "hash" -> hash, "error" -> error,
      "stored_bytes" -> stored.map(i => i.memSize + i.diskSize).sum,
      "frames" -> stored.size, "tracked" -> CacheReaper.trackedCount)
  }
}
