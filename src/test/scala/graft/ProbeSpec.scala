package graft

import java.nio.file.Files

import graft.tools.Probe

/** The developer probe's two modes and its argument checking, driven on
  * the shared session. */
class ProbeSpec extends SparkTestBase {
  private val q11 = "q11_join_shuffle"
  private val q61 = "q61_stream_foreachbatch"

  private def probe(args: String*): Seq[String] = {
    val lines = Seq.newBuilder[String]
    Probe.run(spark, args, lines += _)
    lines.result()
  }

  test("run prints one PROBE line and its STAGE lines per key, BATCH lines for a stream only") {
    val lines = probe("run", "--sf", sfDir, "--keys", s"$q61,$q11")
    def of(kind: String, key: String) = lines.filter(_.startsWith(s"$kind rep=1 $key "))
    for (key <- Seq(q11, q61)) {
      val p = of("PROBE", key)
      assert(p.size === 1, lines.mkString("\n"))
      assert(p.head.matches(".* construct=[\\d.]+ms plan=[\\d.]+ms exec=[\\d.]+ms"), p.head)
      assert(of("STAGE", key).nonEmpty, s"no STAGE line for $key:\n${lines.mkString("\n")}")
    }
    assert(of("BATCH", q11).isEmpty)
    assert(of("BATCH", q61).nonEmpty, lines.mkString("\n"))
    assert(lines.filter(_.startsWith("PROBE")).map(_.split(" ")(2)) === Seq(q11, q61),
      "keys must run in sorted order")
  }

  test("--ab runs both sides per key, flips the side order each rep, restores the conf") {
    val conf = "spark.sql.shuffle.partitions"
    val prior = spark.conf.get(conf)
    val q18 = "q18_agg_hash"
    val lines = probe("run", "--sf", sfDir, "--keys", s"$q11,$q18", "--reps", "2",
      "--ab", s"$conf=2")
    val runs = lines.filter(_.startsWith("PROBE")).map(_.split(" ").slice(1, 4).mkString(" "))
    assert(runs === Seq(
      s"rep=1 side=A $q11", s"rep=1 side=B $q11", s"rep=1 side=A $q18", s"rep=1 side=B $q18",
      s"rep=2 side=B $q11", s"rep=2 side=A $q11", s"rep=2 side=B $q18", s"rep=2 side=A $q18"))
    assert(spark.conf.get(conf) === prior)
  }

  test("plans writes one formatted plan and prints one flag line per key") {
    val dir = Files.createTempDirectory("probe_plans")
    val q29 = "q29_set_ops"
    val keys = Seq(q11, "q12_join_multiway", q29)
    val lines = probe("plans", "--sf", sfDir, "--keys", keys.mkString(","),
      "--out", dir.toString, "--suffix", "t")
    assert(lines.size === keys.size, lines.mkString("\n"))
    keys.zip(lines).foreach { case (key, line) =>
      assert(line.matches(s"PLAN $key .*ex=\\d+ sort=\\d+ bhj=\\d+ smj=\\d+"), line)
      assert(Files.readString(dir.resolve(s"${key}_t.txt")).contains("== Physical Plan =="))
    }
    assert(dir.toFile.list().length === keys.size)
    assert(lines.last.contains("rescan=customer×3 rescan=supplier×3"), lines.last)
  }

  test("an unknown mode, flag, key or value, or a missing --sf or --out, throws with the usage") {
    def run(args: String*) = Seq("run", "--sf", sfDir) ++ args
    Seq(
      Seq() -> "unknown mode", Seq("time") -> "unknown mode",
      run("--out", "x") -> "unknown run flag", run("--bogus", "1") -> "unknown run flag",
      run("--reps") -> "missing value", run("--reps", "0") -> "--reps must be >= 1",
      run("--ab", "k") -> "not k=v", run("--keys", "q0_none") -> "unknown key",
      Seq("run", "--keys", q11) -> "missing --sf", Seq("plans", "--sf", sfDir) -> "missing --out",
      Seq("plans", "--sf", sfDir, "--out", "x", "--reps", "2") -> "unknown plans flag"
    ).foreach { case (args, why) =>
      val e = intercept[IllegalArgumentException](probe(args: _*))
      assert(e.getMessage.contains(why) && e.getMessage.contains(Probe.usage),
        s"$args: ${e.getMessage}")
    }
  }
}
