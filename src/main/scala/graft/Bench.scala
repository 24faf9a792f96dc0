package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every `SparkEntry.queries` entry on
  * `SPARK_GRAFT_SF_DIR`, forcing full computation through the `noop`
  * sink (a bare `count()` would let Catalyst prune projections and
  * under-measure), and prints one JSON line.
  *
  * Methodology (pinned in round 3 — the round-2 adaptive early-exit
  * recorded warm-up for some queries and mislabeled them regressions;
  * measurement-integrity layer added in round 7 after the round-6
  * artifact shipped contaminated numbers; regression gate + post-sweep
  * adjudication added in round 12 after the round-11 artifact shipped a
  * 9×-inflated entry resting on 2 post-budget runs):
  *  - FIXED iteration count per query: `warmups` discarded runs, then
  *    `measured` timed runs. No early exit — the first execution of a
  *    plan pays whole-stage-codegen compilation + JIT tiering (3-10x
  *    steady state), and convergence under a 100+-query sweep takes
  *    more runs than alone because the JVM's JIT profiles are polluted
  *    by neighboring queries.
  *  - CONVERGENCE RE-MEASURE: after the fixed runs, while the
  *    min/median gap exceeds 30% (the unconverged-measurement tell the
  *    round-6 audit used) and budget remains, the query gets up to 3
  *    extra measured runs. A noisy neighbor (page cache, GC, another
  *    process) inflates single runs; extra samples let min/median
  *    re-converge instead of shipping the noise.
  *  - REGRESSION GATE: per-query mins are diffed against the previous
  *    committed `bench_full.json` BEFORE it is overwritten; entries
  *    that regressed >2× AND >0.5 s absolute are listed under
  *    `regressed_vs_prev` (empty on a clean sweep) — a q121-style 30×
  *    artifact jump can never ship unexplained again.
  *  - POST-SWEEP ADJUDICATION: queries still wide-gap or regressed
  *    after the main sweep get a second re-measure pass while budget
  *    remains — the round-11 failure mode was the alphabetic tail's
  *    convergence loop starving at budget exhaustion, so adjudication
  *    now has its own slice (the gate fields record what it could not
  *    resolve).
  *  - `queries` reports the MIN over measured runs (the standard
  *    steady-state estimator under one-sided noise; what every round
  *    reported, so round-over-round comparison stays apples-to-apples);
  *    `queries_median` reports the median for a noise-robust second
  *    opinion; `queries_runs` reports HOW MANY measured runs each
  *    number rests on — a 1-run entry is machine-visible, not a
  *    forensic min==median inference (the round-6 artifact's failure
  *    mode).
  *  - the global soft budget SCALES WITH THE QUERY COUNT
  *    (max(460, 12·|queries|) s — 6·N was measured too small for this
  *    host at 122 queries in round 11: the sweep ran 47% over and the
  *    tail shipped unconverged). Past the budget, remaining queries
  *    degrade to 1 warm-up + 2 measured (min/median still meaningful)
  *    and record their run count; past 1.5× budget, to 1+1.
  *  - the codegen class cache is raised from its 100-entry default:
  *    100+ queries × 5+ runs would otherwise evict and recompile each
  *    other's generated classes mid-sweep.
  */
object Bench {

  /** Per-query mins of the previous committed artifact, parsed from its
    * `"queries":{...}` object — hand-rolled because the artifact is our
    * own single-line JSON with flat numeric values (no JSON lib on the
    * classpath). Absent/unparseable file → empty map (first round, or a
    * format change: the gate degrades to "no prior", never to a crash).
    */
  private[graft] def priorMins(path: String, sfDir: String): Map[String, Double] =
    try {
      val text = new String(
        java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8")
      val start = text.indexOf("\"queries\":{")
      // a prior recorded at a DIFFERENT scale factor is not a baseline —
      // comparing sf0.1 runs against a local sf0.01 artifact (or vice
      // versa) would flag everything and burn the adjudication budget
      // a truncated artifact can contain `"queries":{` with no closing
      // brace — indexOf returns -1 and substring would throw, crashing
      // the bench; the contract is "unparseable → no prior", so guard it
      val end = text.indexOf('}', start)
      if (start < 0 || end < 0 || !text.contains(s""""sf":"$sfDir"""")) Map.empty
      else {
        val body = text.substring(start + "\"queries\":{".length, end)
        body.split(',').iterator.flatMap { kv =>
          kv.split(':') match {
            case Array(k, v) =>
              try Some(k.trim.stripPrefix("\"").stripSuffix("\"") -> v.trim.toDouble)
              catch { case _: NumberFormatException => None }
            case _ => None
          }
        }.toMap
      }
    } catch { case scala.util.control.NonFatal(_) => Map.empty }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val warmups = sys.env.getOrElse("SPARK_GRAFT_BENCH_WARMUPS", "2").toInt
    val measured = sys.env.getOrElse("SPARK_GRAFT_BENCH_MEASURED", "3").toInt
    val spark = session(cpus)
    // optional comma-separated substring filter for targeted re-measures
    // while iterating on one query; the driver never sets it, so the
    // default (unset → full surface) keeps the contract byte-identical
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(',').toSeq.filter(_.nonEmpty))
    def selected(name: String): Boolean =
      only.forall(_.exists(name.contains))
    val nQueries = SparkEntry.queries.keysIterator.count(selected)
    val budgetSec = sys.env.get("SPARK_GRAFT_BENCH_BUDGET").map(_.toDouble)
      .getOrElse(math.max(460.0, 12.0 * nQueries))
    val maxExtra = sys.env.getOrElse("SPARK_GRAFT_BENCH_MAX_EXTRA", "3").toInt
    // a FILTERED run must never clobber the committed full-surface
    // artifact (r18 ADVICE: a partial sweep overwriting bench_full.json
    // would silently disable the regression gate for every un-run
    // query) — default the out path to a scratch file when ONLY is set
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      if (only.isDefined) "bench_only.json" else "bench_full.json")
    // previous artifact's per-query mins, read BEFORE this run overwrites
    // the file — the regression gate's baseline
    val prior = priorMins(outPath, sfDir)
    val sweepStart = System.nanoTime()
    def elapsedSec: Double = (System.nanoTime() - sweepStart) / 1e9

    final class QState(val name: String,
        val fn: (SparkSession, String) => org.apache.spark.sql.DataFrame) {
      var times: Vector[Double] = Vector.empty
      var failed: Option[String] = None
      var sawError = false
      def once(record: Boolean = true): Unit =
        try {
          val t0 = System.nanoTime()
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          // Drop any cache a query pinned (e.g. the minhash shingle
          // table) so iterations and queries don't pay each other's
          // memory.
          spark.catalog.clearCache()
          if (record) times = (times :+ (System.nanoTime() - t0) / 1e9).sorted
        } catch {
          case e: Throwable => failed = Some(e.getMessage); sawError = true
        }
      def min: Double = if (times.isEmpty) -1.0 else times.head
      def median: Double = if (times.isEmpty) -1.0 else times(times.size / 2)
      def gapTooWide: Boolean = times.size >= 2 && median > 1.3 * min
      def regressedVsPrior: Boolean = prior.get(name).exists(p =>
        p > 0 && min > 2.0 * p && min - p > 0.5)
    }

    val states = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => selected(n) }
      .map { case (n, f) => new QState(n, f) }
    // main sweep: fixed warmups+measured, inline convergence re-measure
    states.foreach { st =>
      val (nWarm, nMeas) =
        if (elapsedSec > 1.5 * budgetSec) (1, 1)
        else if (elapsedSec > budgetSec) (1, 2)
        else (warmups, measured)
      (0 until nWarm).foreach(_ =>
        if (st.failed.isEmpty) st.once(record = false))
      (0 until nMeas).foreach(_ => if (st.failed.isEmpty) st.once())
      var extra = 0
      while (st.failed.isEmpty && st.gapTooWide && extra < maxExtra &&
          elapsedSec < 1.5 * budgetSec) {
        st.once(); extra += 1
      }
      if (st.failed.isDefined)
        System.err.println(s"[bench] ${st.name} failed: ${st.failed.get}")
    }
    // post-sweep adjudication: anything still wide-gap or regressed vs
    // the prior artifact gets more samples while budget remains — noise
    // re-converges, real regressions survive with ≥5 runs behind them.
    // QUIESCE first (round-17 verdict, worklist #7): the sf1 wide-gap
    // family sat entirely in the sweep's tail-contention window — GC
    // debt and page-cache churn from a hundred neighboring queries
    // inflate medians 2-4× over bests. One full GC + settle before the
    // pass, and one GC between flagged queries, lets adjudication
    // sample a quiet JVM instead of re-measuring the noise.
    val flagged = states.filter(st => st.failed.isEmpty && st.times.nonEmpty &&
      (st.gapTooWide || st.regressedVsPrior))
    if (flagged.nonEmpty && elapsedSec < 1.5 * budgetSec) {
      System.gc(); Thread.sleep(3000)
    }
    flagged.foreach { st =>
      System.gc()
      var extra = 0
      while (st.failed.isEmpty && (st.gapTooWide || st.regressedVsPrior) &&
          extra < 2 * maxExtra && elapsedSec < 1.5 * budgetSec) {
        st.once(); extra += 1
      }
    }

    val results = states.map(st =>
      (st.name, st.min, st.median, st.times.size,
        st.sawError && st.times.nonEmpty))
    def obj(kv: Seq[(String, Double)]): String =
      kv.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    def objL(kv: Seq[(String, Long)]): String =
      kv.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val qs = obj(results.map { case (n, mn, _, _, _) => n -> mn })
    val med = obj(results.map { case (n, _, md, _, _) => n -> md })
    val runs = objL(results.map { case (n, _, _, r, _) => n -> r.toLong })
    // A failed query records -1.0 per entry (machine-visible sentinel)
    // but is EXCLUDED from the headline total — the round-8 artifact
    // summed 21 sentinels into `value` and understated runtime by 21 s.
    // Failures are first-class fields: `failed` (names) + `n_failed`.
    val failedNames = results.filter(_._4 == 0).map(_._1)
    val total = results.filter(_._4 > 0).map(_._2).sum
    val nFailed = failedNames.size
    val failedArr = failedNames.map("\"" + _ + "\"").mkString("[", ",", "]")
    // flaky = ran >=1 clean time but threw later in a re-measure loop
    val flakyNames = results.filter(r => r._4 > 0 && r._5).map(_._1)
    val flakyArr = flakyNames.map("\"" + _ + "\"").mkString("[", ",", "]")
    // 1-run = degraded-but-ran (budget overrun); failures count separately
    val nOneRun = results.count(_._4 == 1)
    val nWideGap = results.count { case (_, mn, md, r, _) => r >= 2 && md > 1.3 * mn }
    // the regression gate's verdict AFTER adjudication: what genuinely
    // moved vs the previous artifact (>2× and >0.5 s absolute on mins)
    val regressed = states.filter(st => st.times.nonEmpty && st.regressedVsPrior)
      .map(st => s"""{"name":"${st.name}","prev":${prior(st.name)},"now":${st.min}}""")
      .mkString("[", ",", "]")
    val full =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"queries_median":$med,"queries_runs":$runs,"n_queries":$nQueries,"n_failed":$nFailed,"failed":$failedArr,"n_flaky":${flakyNames.size},"flaky":$flakyArr,"n_one_run":$nOneRun,"n_wide_gap":$nWideGap,"regressed_vs_prev":$regressed,"budget_sec":$budgetSec,"sweep_sec":$elapsedSec,"sf":"$sfDir"}"""
    // Full-detail artifact: the driver snapshots only the LAST 2000 chars
    // of stdout, which amputated the full per-query JSON in rounds 1-4
    // (BENCH_r0N.json "parsed": null). The complete JSON goes to a repo
    // file the driver snapshots via git instead.
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (full + "\n").getBytes("UTF-8"))
    // Final stdout line stays under the 2000-char tail window: short qNN
    // keys (the unique prefix of each query name) and 3-decimal values.
    // build.sbt sets `Global / showSuccess := false` so no sbt "[success]"
    // line lands after it inside the captured tail.
    def r3(v: Double): Double = math.rint(v * 1000) / 1000
    val shortQs = obj(results.map { case (n, mn, _, _, _) => n.takeWhile(_ != '_') -> r3(mn) })
    println(s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":$shortQs,"n_failed":$nFailed,"n_flaky":${flakyNames.size},"n_one_run":$nOneRun,"n_wide_gap":$nWideGap,"n_regressed":${states.count(st => st.times.nonEmpty && st.regressedVsPrior)},"sf":"$sfDir","full":"$outPath"}""")
    spark.stop()
  }

  /** The `local[cpus]` session the bench measures under — and
    * [[Verify]] checks the oracle under, so correctness is judged on
    * the conf that is benchmarked — on graft's local filesystem.
    */
  def session(cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // single-file local inputs: smaller splits restore scan parallelism
      // (at cluster scale the 128MB default is correct; this is a local
      // I/O-shape knob, not a semantic one)
      .config("spark.sql.files.maxPartitionBytes", "4m")
      // local-FS listing needs no job: stored indexes here have
      // layout-bounded partition-dir counts (16-256), and the default
      // 32-path threshold turns every probe's listing into a cluster
      // job (~0.2 s scheduling for microseconds of I/O). Object-store
      // deployments with thousands of dirs keep the parallel default —
      // same local-I/O-shape reasoning as maxPartitionBytes above.
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "8192")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.io.LocalFs.install(spark)
    spark
  }
}
