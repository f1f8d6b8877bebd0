package graft.tools

import java.io.{FileDescriptor, FileOutputStream, PrintStream}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

import graft.SparkEntry
import graft.engine.{CacheReaper, Tables}

/** Developer probe over the declared queries, in two modes.
  *
  * `run` times each selected key: one `PROBE` line per (rep, key) splits
  * its wall time into DataFrame construction, Catalyst planning (forcing
  * `executedPlan`) and execution (`count()`). The run's `STAGE` lines
  * follow (task count, wall and CPU time, shuffle records in and out; a
  * 1-task stage whose `out` dwarfs its `in` is the tell of an expanding
  * operator folded into one task), then its `BATCH` lines, one per
  * streaming micro-batch: the progress `durationMs` split plus each state
  * operator's commit time. Streaming keys run their stream inside the
  * builder call, so their batches land in `construct`.
  *
  * `plans` writes each key's `explain("formatted")` to
  * `<out>/<key>_<suffix>.txt` and prints one `PLAN` line of red flags:
  * CARTESIAN, BNLJ, `rescan=<table>×n` for each input scanned more than
  * once by a plan that reads no cached frame, and the Exchange, Sort, BHJ
  * and SMJ node counts.
  *
  * Keys run in Bench's sorted order. Every pass starts library-cold
  * (tracked caches released, table schemas re-resolved), as a timed
  * perfbench pass does; without that a rep would silently read the
  * previous rep's shared frames. With `--ab`, each (rep, key) runs side A
  * (session confs) and side B (the given confs, restored afterwards) back
  * to back so both sides share the host window, each side library-cold.
  * The side order flips every rep: the second run of a key inherits the
  * first's JIT and page-cache warmth.
  */
object Probe {
  val usage: String =
    """usage: graft.tools.Probe run --sf DIR [--keys k1,k2] [--reps N] [--ab k=v[,k=v]]
      |       graft.tools.Probe plans --sf DIR --out DIR [--keys k1,k2] [--suffix S]""".stripMargin

  private val flags = Map(
    "run" -> Set("--sf", "--keys", "--reps", "--ab"),
    "plans" -> Set("--sf", "--keys", "--out", "--suffix"))

  def main(args: Array[String]): Unit = {
    val spark = SparkEntry.localSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    // UTF-8 whatever the platform charset, so `rescan=<table>×n` keeps its ×.
    val stdout = new PrintStream(new FileOutputStream(FileDescriptor.out), true,
      StandardCharsets.UTF_8)
    try run(spark, args.toSeq, stdout.println) finally spark.stop()
  }

  private def bad(why: String): Nothing =
    throw new IllegalArgumentException(s"$why\n$usage")

  /** Parse `args` and run the mode on `spark`, writing every result line
    * through `out`. Throws IllegalArgumentException (carrying [[usage]])
    * on an unknown mode, flag or key, or a malformed value. */
  def run(spark: SparkSession, args: Seq[String], out: String => Unit): Unit = {
    val mode = args.headOption.filter(flags.contains)
      .getOrElse(bad(s"unknown mode: ${args.headOption.getOrElse("(none)")}"))
    val opts = args.tail.grouped(2).map {
      case Seq(f, v) if flags(mode)(f) => f -> v
      case g => bad(s"unknown $mode flag or missing value: ${g.mkString(" ")}")
    }.toMap
    val sfDir = opts.getOrElse("--sf", bad("missing --sf"))
    val all = SparkEntry.queries.keys.toSeq.sorted
    val keys = opts.get("--keys").fold(all) { ks =>
      val want = ks.split(",").toSet
      (want -- all).headOption.foreach(k => bad(s"unknown key: $k"))
      all.filter(want)
    }
    mode match {
      case "run" =>
        val reps = opts.get("--reps").map(r =>
          r.toIntOption.filter(_ >= 1).getOrElse(bad(s"--reps must be >= 1: $r"))).getOrElse(1)
        val ab = opts.get("--ab").toSeq.flatMap(_.split(",")).map(_.split("=", 2) match {
          case Array(k, v) => k -> v
          case kv => bad(s"--ab entry is not k=v: ${kv.mkString}")
        })
        runMode(spark, sfDir, keys, reps, ab, out)
      case "plans" =>
        val dir = opts.getOrElse("--out", bad("missing --out"))
        plansMode(spark, sfDir, keys, dir, opts.getOrElse("--suffix", "plan"), out)
    }
  }

  private def libraryCold(): Unit = {
    CacheReaper.release()
    Tables.clearSchemaCache()
  }

  private def runMode(spark: SparkSession, sfDir: String, keys: Seq[String],
      reps: Int, ab: Seq[(String, String)], out: String => Unit): Unit =
    for (rep <- 1 to reps) {
      if (ab.isEmpty) {
        libraryCold()
        keys.foreach(k => probe(spark, sfDir, k, s"rep=$rep", out))
      } else for (k <- keys; side <- if (rep % 2 == 1) Seq("A", "B") else Seq("B", "A")) {
        libraryCold()
        val saved = if (side == "A") Nil else ab.map { case (ck, cv) =>
          val prev = ck -> spark.conf.getOption(ck)
          spark.conf.set(ck, cv)
          prev
        }
        try probe(spark, sfDir, k, s"rep=$rep side=$side", out)
        finally saved.foreach { case (ck, prev) =>
          prev.fold(spark.conf.unset(ck))(spark.conf.set(ck, _))
        }
      }
    }

  private def ms(ns: Long): String = f"${ns / 1e6}%.1fms"

  /** One timed run of `key`. Its listeners exist for this run only and
    * are removed before their queues are read, so a late event of the
    * previous run cannot be attributed to this one; the queues are
    * drained until quiet first, so this run's last events are not lost. */
  private def probe(spark: SparkSession, sfDir: String, key: String, tag: String,
      out: String => Unit): Unit = {
    val stages = new ConcurrentLinkedQueue[String]()
    val batches = new ConcurrentLinkedQueue[String]()
    val stageListener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val m = si.taskMetrics
        val wall = (for (s <- si.submissionTime; c <- si.completionTime) yield c - s)
          .getOrElse(-1L)
        stages.add(s"stage=${si.stageId} tasks=${si.numTasks} wall=${wall}ms " +
          s"cpu=${m.executorCpuTime / 1000000}ms in=${m.shuffleReadMetrics.recordsRead} " +
          s"out=${m.shuffleWriteMetrics.recordsWritten}")
      }
    }
    val batchListener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = {
        val p = e.progress
        val split = p.durationMs.asScala.toSeq.sortBy(_._1).map { case (k, v) => s"$k=${v}ms" }
        val state = p.stateOperators.map(_.commitTimeMs).mkString("/")
        batches.add((s"batch=${p.batchId} rows=${p.numInputRows}" +: split :+
          s"stateCommit=${state}ms").mkString(" "))
      }
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    spark.sparkContext.addSparkListener(stageListener)
    spark.streams.addListener(batchListener)
    val phases = try {
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(key)(spark, sfDir)
      val t1 = System.nanoTime()
      df.queryExecution.executedPlan
      val t2 = System.nanoTime()
      df.count()
      val t3 = System.nanoTime()
      s"construct=${ms(t1 - t0)} plan=${ms(t2 - t1)} exec=${ms(t3 - t2)}"
    } catch { case NonFatal(e) => s"ERROR $e".linesIterator.next() }
    finally {
      drainUntilQuiet(stages.size + batches.size)
      spark.sparkContext.removeSparkListener(stageListener)
      spark.streams.removeListener(batchListener)
    }
    out(s"PROBE $tag $key $phases")
    stages.forEach(s => out(s"STAGE $tag $key $s"))
    batches.forEach(b => out(s"BATCH $tag $key $b"))
  }

  /** Wait until `size` holds still for two consecutive 100 ms polls,
    * at most 2 s: listener events arrive asynchronously. */
  private def drainUntilQuiet(size: => Int): Unit = {
    var (last, stable, waited) = (-1, 0, 0)
    while (stable < 2 && waited < 2000) {
      Thread.sleep(100)
      waited += 100
      val now = size
      if (now == last) stable += 1 else { stable = 0; last = now }
    }
  }

  private def plansMode(spark: SparkSession, sfDir: String, keys: Seq[String],
      dir: String, suffix: String, out: String => Unit): Unit = {
    Files.createDirectories(Paths.get(dir))
    libraryCold()
    keys.foreach { key =>
      val red = try {
        val p = SparkEntry.queries(key)(spark, sfDir).queryExecution
          .explainString(ExplainMode.fromString("formatted"))
        Files.writeString(Paths.get(dir, s"${key}_$suffix.txt"), p)
        // The formatted details list every node once, as "(id) Name".
        def n(node: String) = s"\\(\\d+\\) $node\\b".r.findAllIn(p).size
        // Each file scan's details name its input once, as "Location:
        // <index> [<path>, ...]"; a reused exchange does not repeat them.
        // A cached-frame explain reprints the cached subtree, so plans
        // with an InMemoryRelation are not counted.
        val rescans = if (p.contains("InMemoryRelation")) Nil else
          "Location: \\w+ \\[([^,\\]]+)".r.findAllMatchIn(p)
            .map(_.group(1).split("/").last.stripSuffix(".parquet")).toSeq
            .groupBy(identity).collect { case (t, s) if s.size > 1 => s"rescan=$t×${s.size}" }
            .toSeq.sorted
        (Seq(if (p.contains("CartesianProduct")) "CARTESIAN" else "",
          if (p.contains("BroadcastNestedLoopJoin")) "BNLJ" else "") ++ rescans :+
          s"ex=${n("Exchange")} sort=${n("Sort")} bhj=${n("BroadcastHashJoin")} " +
            s"smj=${n("SortMergeJoin")}").filter(_.nonEmpty).mkString(" ")
      } catch { case NonFatal(e) => s"ERROR $e".linesIterator.next() }
      out(s"PLAN $key $red")
    }
  }
}
