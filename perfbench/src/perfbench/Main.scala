package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import graft.{GraftSession, SparkEntry, Tables}
import graft.queries.SourcesDdl
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, sum, xxhash64}

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The query benchmark: one workload of registered queries, run by one
  * client thread in a closed loop on `local[cores]`.
  *
  *  1. Set-up: session, function registration, then one untimed pass that
  *     checks each query's output fingerprint (row count plus an
  *     order-independent hash) against the recorded one. It doubles as the
  *     warm-up.
  *  2. Whole timed passes, each in a fresh seed-derived order, until
  *     `seconds` of wall time have passed and at least [[minPasses]] have
  *     run. Every query is forced through the noop sink, which executes the
  *     whole plan.
  *  3. With `--trace 1`, untraced and traced passes alternate, and the
  *     traced ones give the per-layer figures (see [[Tracer]]).
  *
  * Cache clearing and RDD unpersisting between queries happen outside the
  * timed window. The last stdout line is the result JSON; the per-run
  * artifact goes to `<out>/<workload>-seed<seed>-c<cores>-<traced|untraced>.json`.
  */
object Main {

  /** Fixed query lists; see perfbench/README.md for why each workload. */
  val workloads: Map[String, Seq[String]] = Map(
    "tpch" -> (1 to 22).map(i => s"q$i"),
    "iterative" -> Seq("graph_components", "graph_sssp", "graph_bfs", "graph_lpa",
      "graph_pagerank", "graph_hits", "graph_kcore", "ded_cluster"),
    "heavy" -> Seq("ded_contain", "ded_prefix", "ded_winnow", "ded_ngram", "ded_minhash",
      "ded_semantic", "sim_knng", "sim_lsh", "sim_kmeans", "cur_funnel2"),
    "write" -> Seq("snk_parquet", "snk_partitioned", "snk_dynpart", "snk_bucketed",
      "snk_compact", "snk_zstd", "snk_json", "ddl_ctas", "ddl_insert", "cdc_apply"))

  /** Timed passes an untraced run makes at least. A write pass takes about
    * half as long as a tpch pass, so it gets two: every query then has two
    * timed samples for about the same run time. */
  val minPasses: Map[String, Int] = Map("write" -> 2).withDefaultValue(1)

  private final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      data: String, cores: Int, fingerprints: String, out: String, record: Option[String])

  private def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Args(kv.getOrElse("workload", "tpch"), kv.getOrElse("seed", "1").toLong,
      kv.getOrElse("seconds", "10").toDouble, kv.getOrElse("trace", "0") == "1", need("data"),
      kv.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors),
      kv.getOrElse("fingerprints", ""), kv.getOrElse("out", "."), kv.get("record"))
  }

  /** What a query's output must be: its row count, its column names in
    * sorted order, and the sum of every row's xxhash64 over those columns
    * (exact decimal, so the sum neither overflows nor depends on order). */
  final case class Fingerprint(rows: Long, hash: String, columns: Seq[String])

  def fingerprint(df: DataFrame): Fingerprint = {
    val sorted = df.columns.zipWithIndex.sortBy(_._1)
    val renamed = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val h = xxhash64(sorted.map { case (_, i) => col(s"c$i") }.toSeq: _*)
    val r = renamed.agg(count(lit(1)), sum(h.cast("decimal(38,0)"))).head()
    Fingerprint(r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"),
      sorted.map(_._1).toSeq)
  }

  private val json = new ObjectMapper()

  private def readFingerprints(path: String): Map[String, Fingerprint] =
    json.readTree(Paths.get(path).toFile).get("queries").properties().asScala.map { e =>
      val v = e.getValue
      e.getKey -> Fingerprint(v.get("rows").asLong, v.get("hash").asText,
        v.get("columns").elements().asScala.map(_.asText).toSeq)
    }.toMap

  private def fingerprintNode(f: Fingerprint): ObjectNode = {
    val n = json.createObjectNode()
    n.put("rows", f.rows).put("hash", f.hash)
    val cols = n.putArray("columns"); f.columns.foreach(cols.add)
    n
  }

  /** Value `p` (0..1) of sorted `xs`, by linear interpolation. */
  private def quantile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    val pos = p * (s.length - 1)
    val lo = pos.toInt
    if (lo + 1 >= s.length) s.last else s(lo) + (pos - lo) * (s(lo + 1) - s(lo))
  }

  /** The highest percentile with at least ten samples beyond it: the
    * eleventh-largest sample, and the percentile it sits at. With ten
    * samples or fewer there is none; the maximum is reported at 100. */
  private def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    if (s.length <= 10) (s.last, 100.0)
    else (s(s.length - 11), 100.0 * (s.length - 11) / (s.length - 1))
  }

  private def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(Double.NaN)

  def main(argv: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val a = parse(argv)
    require(workloads.contains(a.workload), s"unknown workload ${a.workload}")
    val missing = Tables.names.filterNot(t => Files.exists(Paths.get(s"${a.data}/$t.parquet")))
    require(missing.isEmpty, s"${a.data} lacks tables: ${missing.mkString(", ")}")

    val spark = GraftSession.getOrCreate(s"local[${a.cores}]", a.cores)
    SourcesDdl.cleanStaleScratch()
    val code = try {
      a.record.fold(bench(spark, a, t0))(record(spark, a, _))
      0
    } catch {
      case e: Throwable => e.printStackTrace(); 1
    } finally {
      spark.stop()
      removeOwnScratch()
    }
    sys.exit(code)
  }

  /** Deletes this JVM's `graft_<pid>_*` round-trip directories. */
  private def removeOwnScratch(): Unit = {
    val prefix = s"graft_${ProcessHandle.current().pid()}_"
    def rm(p: Path): Unit = {
      if (Files.isDirectory(p) && !Files.isSymbolicLink(p))
        Files.list(p).iterator().asScala.toList.foreach(rm)
      Files.deleteIfExists(p)
    }
    Files.list(Paths.get(sys.props("java.io.tmpdir"))).iterator().asScala.toList
      .filter(_.getFileName.toString.startsWith(prefix)).foreach(rm)
  }

  private def hygiene(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** Writes each workload query's output as parquet under `dir`, with the
    * oracle SQL and the fingerprints, for perfbench/record.py to check. */
  private def record(spark: SparkSession, a: Args, dir: String): Unit = {
    val all = workloads.values.flatten.toSeq.sorted
    val oracle = json.createObjectNode()
    val fps = json.createObjectNode()
    all.foreach { n =>
      val fn = SparkEntry.queries(n)
      fn(spark, a.data).coalesce(1).write.mode("overwrite").parquet(s"$dir/$n")
      hygiene(spark)
      fps.set[ObjectNode](n, fingerprintNode(fingerprint(fn(spark, a.data))))
      hygiene(spark)
      SparkEntry.oracleSql.get(n).foreach(oracle.put(n, _))
    }
    Files.writeString(Paths.get(s"$dir/oracle_sql.json"), json.writeValueAsString(oracle))
    Files.writeString(Paths.get(s"$dir/fingerprints.json"), json.writeValueAsString(fps))
  }

  private final case class Exec(query: String, pass: Int, sec: Double, ok: Boolean, traced: Boolean)

  /** End-to-end metrics (untraced passes) and per-layer metrics (traced
    * passes), by name, with their units. */
  val endToEnd: Seq[(String, String)] = Seq("qps" -> "1/s", "geomean_s" -> "s",
    "success_share" -> "share", "setup_s" -> "s", "peak_rss_mb" -> "MB")
  val perLayer: Seq[(String, String)] = Seq(
    "tables.load_s" -> "s", "tables.infer_jobs" -> "count",
    "build.s" -> "s", "build.jobs" -> "count", "build.job_s" -> "s",
    "plan.analysis_s" -> "s", "plan.optimization_s" -> "s", "plan.planning_s" -> "s",
    "exec.jobs" -> "count", "exec.stages" -> "count", "exec.tasks" -> "count",
    "exec.job_s" -> "s", "exec.gap_s" -> "s",
    "exec.slot_wait_s" -> "s", "exec.task_run_s" -> "s", "exec.task_cpu_s" -> "s", "exec.gc_s" -> "s",
    "shuffle.read_bytes" -> "bytes", "shuffle.write_bytes" -> "bytes",
    "shuffle.records_written" -> "count", "shuffle.fetch_wait_s" -> "s", "shuffle.write_s" -> "s",
    "mem.peak_task_bytes" -> "bytes", "mem.spill_bytes" -> "bytes", "mem.spill_disk_bytes" -> "bytes",
    "jvm.gc_s" -> "s", "scan.bytes_read" -> "bytes", "scan.records_read" -> "count",
    "sink.bytes_written" -> "bytes", "sink.records_written" -> "count",
    "exec.failed_tasks" -> "count", "exec.stage_retries" -> "count",
    "exec.task_success_ratio" -> "ratio", "trace.overhead_ratio" -> "ratio",
    "trace.pass_s" -> "s", "trace.unattributed_s" -> "s")

  /** Largest share of a traced pass's wall time that may stay unattributed
    * after build, Catalyst phases, jobs and gaps are summed. */
  val ReconcileTolerance = 0.02

  private def bench(spark: SparkSession, a: Args, t0: Long): Unit = {
    val names = workloads(a.workload)
    val fns = names.map(n => n -> SparkEntry.queries(n)).toMap
    val expected = readFingerprints(a.fingerprints)
    val rnd = new scala.util.Random(a.seed)
    var attempted = 0L
    val failures = mutable.ArrayBuffer.empty[(String, String)]
    def fail(n: String, why: String): Unit = {
      failures += (n -> why)
      System.err.println(s"[perfbench] $n failed: $why")
    }

    // The check pass is also the warm-up. Its queries run on `cores` client
    // threads at once: the first execution of a query is mostly single-
    // threaded driver work (Catalyst and JIT), so this warms the same code
    // in less set-up time. No caches are cleared until all have finished,
    // since unpersisting would drop another query's checkpointed blocks.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(a.cores)
    try {
      rnd.shuffle(names).map { n =>
        pool.submit(new Runnable {
          def run(): Unit = {
            val why = try {
              val got = fingerprint(fns(n)(spark, a.data))
              if (expected.get(n).contains(got)) None
              else Some(s"fingerprint $got, expected ${expected.get(n)}")
            } catch { case e: Throwable => Some(e.toString) }
            synchronized { attempted += 1; why.foreach(fail(n, _)) }
          }
        })
      }.foreach(_.get())
    } finally pool.shutdown()
    hygiene(spark)
    val setupS = (System.nanoTime() - t0) / 1e9

    val tracer = if (a.trace) Some(new Tracer(spark)) else None
    val execs = mutable.ArrayBuffer.empty[Exec]
    val layers = mutable.ArrayBuffer.empty[Map[String, Double]]
    val timedStart = System.nanoTime()
    def timeUp = (System.nanoTime() - timedStart) / 1e9 >= a.seconds
    var pass = 0
    // Whole passes only, so every query is timed equally often. A traced run
    // alternates untraced and traced passes and ends on an untraced one, so
    // its untraced passes bracket the traced ones and JIT warm-up favours
    // neither kind in trace.overhead_ratio.
    def more = if (a.trace) !timeUp || pass < 3 || pass % 2 == 0
      else !timeUp || pass < minPasses(a.workload)
    while (more) {
      val traced = tracer.filter(_ => pass % 2 == 1)
      traced.foreach(_.startPass(pass))
      rnd.shuffle(names).foreach { n =>
        attempted += 1
        val start = System.nanoTime()
        val ok = try {
          traced match {
            case Some(t) => t.span("query", n, t.passId) { q =>
                val df = t.span("build", n, q)(_ => fns(n)(spark, a.data))
                t.span("action", n, q)(_ => df.write.mode("overwrite").format("noop").save())
              }
            case None => fns(n)(spark, a.data).write.mode("overwrite").format("noop").save()
          }
          true
        } catch { case e: Throwable => fail(n, e.toString); false }
        execs += Exec(n, pass, (System.nanoTime() - start) / 1e9, ok, traced.isDefined)
        hygiene(spark)
      }
      traced.foreach(t => layers += t.endPass())
      pass += 1
    }

    def qps(es: Seq[Exec]): Double = es.count(_.ok) / es.map(_.sec).sum
    val untraced = execs.filterNot(_.traced).toSeq
    val lat = untraced.filter(_.ok).map(_.sec)
    val medians = untraced.filter(_.ok).groupBy(_.query).map { case (q, es) => q -> quantile(es.map(_.sec), 0.5) }
    val (tailS, tailPct) = if (lat.isEmpty) (Double.NaN, Double.NaN) else tail(lat)
    val reconciled = layers.forall(l => math.abs(l("trace.unattributed_s")) <= ReconcileTolerance * l("trace.pass_s"))
    val metrics: Map[String, Double] =
      if (!a.trace) Map(
        "qps" -> qps(untraced),
        "geomean_s" -> math.exp(medians.values.map(math.log).sum / medians.size),
        "success_share" -> (1.0 - failures.size.toDouble / attempted),
        "setup_s" -> setupS,
        "peak_rss_mb" -> vmHwmMb())
      else perLayer.map(_._1).filterNot(_ == "trace.overhead_ratio").map { k =>
        k -> layers.map(_(k)).sum / layers.length
      }.toMap + ("trace.overhead_ratio" -> qps(execs.filter(_.traced).toSeq) / qps(untraced))
    val units = if (a.trace) perLayer else endToEnd
    val correct = failures.isEmpty && reconciled

    val art = json.createObjectNode()
    art.put("workload", a.workload).put("seed", a.seed).put("cores", a.cores)
      .put("traced", a.trace).put("data", a.data).put("seconds", a.seconds)
      .put("setup_s", setupS).put("attempted", attempted).put("failed", failures.size)
      .put("passes", pass).put("correct", correct)
    val fl = art.putArray("failures")
    failures.foreach { case (q, why) => fl.addObject().put("query", q).put("error", why) }
    // The latency distribution stays in the artifact only: at 20-22 samples
    // a run, its median and its tail (the highest percentile with ten
    // samples beyond it, about p50 here) spread too much between runs to
    // carry a regression bound.
    val lt = art.putObject("latency")
    lt.put("samples", lat.length).put("p50_s", if (lat.isEmpty) Double.NaN else quantile(lat, 0.5))
      .put("tail_percentile", tailPct).put("tail_s", tailS)
    val med = art.putObject("median_s")
    medians.toSeq.sortBy(_._1).foreach { case (q, v) => med.put(q, v) }
    val ex = art.putArray("executions")
    execs.foreach(e => ex.addObject().put("query", e.query).put("pass", e.pass)
      .put("sec", e.sec).put("ok", e.ok).put("traced", e.traced))
    val m = art.putObject("metrics")
    units.foreach { case (k, u) => m.putObject(k).put("value", metrics(k)).put("unit", u) }
    tracer.foreach { t =>
      val rc = art.putObject("reconcile")
      rc.put("tolerance_share", ReconcileTolerance).put("ok", reconciled)
      val lp = art.putArray("layer_passes")
      layers.foreach { l =>
        val o = lp.addObject(); l.toSeq.sortBy(_._1).foreach { case (k, v) => o.put(k, v) }
      }
      val sp = art.putArray("spans")
      t.spanRows.foreach(r => sp.add(json.valueToTree[com.fasterxml.jackson.databind.JsonNode](r.asJava)))
    }
    Files.createDirectories(Paths.get(a.out))
    val file = Paths.get(a.out, s"${a.workload}-seed${a.seed}-c${a.cores}-${if (a.trace) "traced" else "untraced"}.json")
    Files.writeString(file, json.writerWithDefaultPrettyPrinter().writeValueAsString(art))

    val line = json.createObjectNode()
    line.put("correct", correct).put("attempted", attempted).put("failed", failures.size)
    val lm = line.putObject("metrics")
    units.foreach { case (k, u) =>
      val v = metrics(k)
      lm.putObject(k).put("value", if (v.isNaN || v.isInfinite) -1.0 else v).put("unit", u)
    }
    System.out.println(json.writeValueAsString(line))
    System.out.flush()
  }
}
