package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.ann.Ann
import graft.core.{Caches, Tables, TpchGraph}
import graft.dedup.Dedup
import graft.kge.{RankingEval, TrainData, TrainEval}
import graft.pipeline.{CorpusClean, Decontaminate, Pipeline, QualityClassifier}
import graft.rdf.Dict

/** Closed-loop, single-client driver of one benchmark workload.
  *
  * Usage: Harness --workload W --data DIR --seconds S --trace 0|1
  *   --out FILE --work DIR [--setup-only 1]
  *
  * One thread issues one call at a time against a `local[4]` session and
  * waits for it; every timed call goes into the library's public
  * functions. A run is: set-up, one operation from an empty derived tier
  * in the fresh JVM (the journey, or the funnel pass), then rounds of
  * reads against the tier that operation left, until `seconds` have
  * passed (at least one round). The result file holds the metrics, the
  * attempted and failed counts, the input sizes and the rows the oracle
  * checks compare; with tracing on, the span and job records are
  * written next to it when the run ends.
  */
object Harness {

  val Cpus = 4
  /** The warm round that is not measured (unit 0 is the operation). */
  val WarmupRound = 1
  val Setups = 3
  /** TransE SGD epochs of the journey. */
  val Epochs = 1

  val tablesOf: Map[String, Seq[String]] = Map(
    "kge_journey" -> Seq("nation", "customer", "supplier", "orders", "lineitem",
      "embeddings"),
    "curation_funnel" -> Seq("documents"))

  final case class Span(id: Long, name: String, unit: Int, startMs: Long,
      endMs: Long)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val workload = a("workload")
    val tables = tablesOf.getOrElse(workload, sys.error(s"unknown workload $workload"))
    val work = a("work")

    // Set-up: session start plus input-table registration, done Setups
    // times; all but the last session are stopped again.
    def setup(): SparkSession = {
      val spark = SparkSession.builder().master(s"local[$Cpus]")
        .config("spark.sql.shuffle.partitions", Cpus.toString)
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", s"$work/spark-local")
        .config("spark.sql.warehouse.dir", s"$work/warehouse")
        .getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      graft.SparkEntry.sessionConfigs.foreach { case (k, v) => spark.conf.set(k, v) }
      tables.foreach(t => Tables.byName(spark, a("data"), t).createOrReplaceTempView(t))
      spark
    }
    val setupS = (1 to Setups).map { i =>
      val t0 = System.nanoTime
      val s = setup()
      val dt = (System.nanoTime - t0) / 1e9
      if (i < Setups) { Caches.clearAll(); s.stop() }
      System.err.println(f"[perfbench] setup $i%-18s $dt%8.3f s")
      dt
    }
    val spark = SparkSession.active
    if (a.get("setup-only").contains("1")) { spark.stop(); return }
    graft.core.Logs.quietBoundedWindowWarnings()
    graft.core.Logs.quietCheckpointEvictionWarnings()

    val run = new Run(spark, a("data"), a("trace") == "1")
    val res = run.drive(workload, a("seconds").toDouble)
    val out = s"""{"workload": ${jstr(workload)}, "setup_s": ${median(setupS)},""" +
      s""" "peak_rss_mb": ${peakRssMb()}, $res}""" + "\n"
    java.nio.file.Files.write(java.nio.file.Paths.get(a("out")), out.getBytes("UTF-8"))
    if (run.traced)
      java.nio.file.Files.write(java.nio.file.Paths.get(a("out") + ".trace.jsonl"),
        run.traceLines.mkString("", "\n", "\n").getBytes("UTF-8"))
    Caches.clearAll()
    spark.stop()
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolation quantile (NaN when empty). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** Peak resident set of this JVM (VmHWM). */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)

  def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def jnum(v: Double): String = if (v.isNaN || v.isInfinite) "null" else v.toString

  def jobj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${jstr(k)}: $v" }.mkString("{", ", ", "}")

  def jrow(r: Row): String =
    jobj(r.schema.fieldNames.zip(r.toSeq).map { case (k, v) =>
      k -> (v match {
        case null => "null"
        case d: Double => if (d.isNaN || d.isInfinite) jstr(d.toString) else d.toString
        case n: java.lang.Number => n.toString
        case b: java.lang.Boolean => b.toString
        case x => jstr(x.toString)
      })
    })

  def rowsHash(rows: Seq[Row]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.map(_.toString).sorted.foreach(s => md.update((s + "\n").getBytes("UTF-8")))
    md.digest().map(b => f"$b%02x").mkString
  }

  /** Span names, one per module boundary the harness calls across. */
  val LayerSpans: Seq[String] = Seq("core.triples", "rdf.dict", "kge.batch",
    "kge.train", "kge.eval", "kge.rank_tier", "ann.tier", "kge.read", "ann.read",
    "pipeline.clean", "dedup.canonical", "pipeline.gate",
    "pipeline.decontaminate", "pipeline.compose")

  val LayerFields: Seq[String] = Seq("wall_s", "driver_s", "jobs", "exec_cpu_s",
    "gc_s", "shuffle_write_mb", "spill_mb", "checkpoint_jobs",
    "skipped_stage_ratio")
}

final class Run(spark: SparkSession, dir: String, val traced: Boolean) {
  import Harness._

  private val sc = spark.sparkContext
  private val probe = new Probe(traced).attach(sc)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextSpan = 0L
  private var unit = 0

  /** Times `f` as a span named after the module it calls into; jobs
    * submitted meanwhile carry the span id as a local property.
    */
  private def span[T](name: String)(f: => T): T =
    if (!traced) f
    else {
      val id = nextSpan; nextSpan += 1
      sc.setLocalProperty(Probe.SpanKey, id.toString)
      val t0 = System.currentTimeMillis
      try f
      finally {
        spans += Span(id, name, unit, t0, System.currentTimeMillis)
        sc.setLocalProperty(Probe.SpanKey, null)
      }
    }

  private def collect(df: DataFrame): Seq[Row] = df.collect().toSeq

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  // ---- operations -------------------------------------------------------

  /** The paper's journey: triples, dictionary, minibatch, TransE SGD
    * epochs (run eagerly inside trainEval), then filtered Hits@k / MRR
    * of the init and the trained embeddings.
    */
  private def journey(): Seq[Row] = {
    Caches.clearAll()
    span("core.triples")(TpchGraph.triples(spark, dir).count())
    span("rdf.dict") {
      Dict.entities(spark, dir).count()
      Dict.relations(spark, dir).count()
      Dict.encodedTriples(spark, dir).count()
    }
    span("kge.batch")(TrainData.minibatch(spark, dir).count())
    val metrics = span("kge.train")(TrainEval.trainEval(spark, dir, Epochs, 0.1))
    span("kge.eval")(collect(metrics))
  }

  private def checkJourney(rows: Seq[Row]): Option[String] = {
    val byModel = rows.map(r => r.getAs[String]("model") -> r).toMap
    val unit01 = Seq("hits1", "hits3", "hits10", "mrr")
    if (rows.size != 2 || byModel.keySet != Set("init", "trained"))
      Some(s"journey rows: $rows")
    else byModel.values.collectFirst {
      case r if r.getAs[Long]("n_test") <= 0 => s"n_test <= 0: $r"
      case r if unit01.exists { c => val v = r.getAs[Double](c); !(v >= 0 && v <= 1) } =>
        s"metric outside [0, 1]: $r"
    }
  }

  /** One pass of the curation funnel from an evicted derived tier. The
    * traced pass forces each stage the funnel composes before the
    * composition itself, so each stage gets its own span.
    */
  private def funnel(): Seq[Row] = {
    Caches.clearDerived()
    if (traced) {
      span("pipeline.clean")(noop(CorpusClean.corpusClean(spark, dir)))
      span("dedup.canonical")(noop(Dedup.canonical(spark, dir)))
      span("pipeline.gate")(noop(QualityClassifier.infer(spark, dir)))
      span("pipeline.decontaminate")(noop(Decontaminate.decontaminate(spark, dir)))
    }
    span("pipeline.compose")(collect(Pipeline.e2e(spark, dir)))
  }

  /** The eval family over the derived tier: (name, span, call). */
  private val evalReads: Seq[(String, String, () => DataFrame)] = Seq(
    ("kge_hits_at_k", "kge.read", () => RankingEval.hitsAtK(spark, dir)),
    ("kge_mrr", "kge.read", () => RankingEval.mrr(spark, dir)),
    ("kge_eval_mrr_ci", "kge.read", () => RankingEval.mrrCi(spark, dir)),
    ("kge_eval_by_category", "kge.read", () => RankingEval.evalByCategory(spark, dir)),
    ("kge_eval_by_degree", "kge.read", () => RankingEval.evalByDegree(spark, dir)),
    ("kge_eval_per_relation", "kge.read", () => RankingEval.evalPerRelation(spark, dir)),
    ("kge_eval_both", "kge.read", () => RankingEval.evalBoth(spark, dir)),
    ("ann_brute_topk", "ann.read", () => Ann.bruteTopK(spark, dir)))

  /** Cold build of the derived eval tier after the journey: the reads
    * that fill it (tail and head rank frames, exact ANN top-k), each
    * under its tier's span. Their rows become the reference the warm
    * reads of the same names must match.
    */
  private def coldTier(): Unit = {
    val call = evalReads.map(r => r._1 -> r._3).toMap
    for ((name, sp) <- Seq("kge_hits_at_k" -> "kge.rank_tier",
        "kge_eval_by_category" -> "kge.rank_tier", "ann_brute_topk" -> "ann.tier"))
      reference(name) = rowsHash(span(sp)(collect(call(name)())))
  }

  /** Stage reports a curator reads once the pass has filled the tier
    * (not traced: they are the calls the traced pass already spans).
    */
  private val funnelReads: Seq[(String, String, () => DataFrame)] = Seq(
    ("corpus_clean", "", () => CorpusClean.corpusClean(spark, dir)),
    ("dedup_canonical", "", () => Dedup.canonical(spark, dir)),
    ("quality_infer", "", () => QualityClassifier.infer(spark, dir)),
    ("decontaminate", "", () => Decontaminate.decontaminate(spark, dir)))

  // ---- measurement ------------------------------------------------------

  var attempted = 0
  var failed = 0
  private val errors = mutable.ArrayBuffer.empty[String]
  private val reference = mutable.HashMap.empty[String, String]
  private val oracleRows = mutable.LinkedHashMap.empty[String, Seq[Row]]
  private val hashes = mutable.LinkedHashMap.empty[String, String]
  private val sizes = mutable.LinkedHashMap.empty[String, Long]
  private var opWall = Double.NaN
  private var opCpu = Double.NaN
  private val roundWall = mutable.ArrayBuffer.empty[Double]

  /** Runs one call, timed from outside; a call that throws or fails its
    * check is counted failed and its time is dropped. The rows of every
    * repeat of a call must hash-match the first call's.
    */
  private def attempt(key: String)(f: => Seq[Row])(
      check: Seq[Row] => Option[String] = _ => None): Option[(Seq[Row], Double, Double)] = {
    attempted += 1
    PerfbenchBus.drain(sc)
    val c0 = probe.cpuNanos.get
    val t0 = System.nanoTime
    val r = try Right(f) catch { case e: Throwable => Left(s"$key: $e") }
    val wall = (System.nanoTime - t0) / 1e9
    PerfbenchBus.drain(sc)
    val cpu = (probe.cpuNanos.get - c0) / 1e9
    val problem = r match {
      case Left(e) => Some(e)
      case Right(rows) => check(rows).orElse {
        val h = rowsHash(rows)
        if (reference.getOrElseUpdate(key, h) != h)
          Some(s"$key: rows differ from the first call's")
        else None
      }
    }
    System.err.println(f"[perfbench] $key%-24s $wall%8.3f s${problem.fold("")(" FAILED " + _)}")
    problem match {
      case Some(p) => failed += 1; errors += p; None
      case None => r.toOption.map(rows => (rows, wall, cpu))
    }
  }

  def drive(workload: String, seconds: Double): String = {
    // A full collection before each timed phase, so no phase pays for
    // garbage the one before it left.
    System.gc()
    val reads = workload match {
      case "kge_journey" =>
        attempt("journey") {
          val rows = journey()
          coldTier()
          rows
        }(checkJourney).foreach { case (rows, w, c) =>
          opWall = w; opCpu = c; hashes("journey") = rowsHash(rows)
        }
        sizes("triples") = TpchGraph.triples(spark, dir).count()
        sizes("entities") = Dict.entities(spark, dir).count()
        sizes("relations") = Dict.relations(spark, dir).count()
        sizes("embeddings") = Tables.embeddings(spark, dir).count()
        sizes("epochs") = Epochs.toLong
        evalReads
      case "curation_funnel" =>
        attempt("funnel")(funnel())().foreach { case (rows, w, c) =>
          opWall = w; opCpu = c; oracleRows("pipeline_e2e") = rows
        }
        sizes("documents") = Tables.documents(spark, dir).count()
        funnelReads
    }
    System.gc()
    // Warm rounds until the window closes, at least two. The first round
    // pays each read's first-call costs (plan and code compilation); it is
    // checked like the others but kept out of read_s and the read spans.
    val end = System.nanoTime + (seconds * 1e9).toLong
    var rounds = 0
    while (rounds <= WarmupRound || System.nanoTime < end) {
      unit += 1
      rounds += 1
      val walls = for ((name, sp, call) <- reads) yield
        attempt(name)(if (sp.isEmpty) collect(call()) else span(sp)(collect(call())))()
          .map { case (rows, w, _) =>
            if (name == "kge_mrr") oracleRows.getOrElseUpdate(name, rows)
            w
          }
      if (rounds > WarmupRound && walls.forall(_.isDefined)) roundWall += walls.flatten.sum
    }
    sizes("read_rounds") = rounds.toLong
    result()
  }

  // ---- results ----------------------------------------------------------

  private def result(): String = {
    val m = mutable.LinkedHashMap.empty[String, Double]
    m("op_s") = opWall
    m("op_cpu_s") = opCpu
    m("read_s") = median(roundWall.toSeq)
    if (traced) m ++= layerMetrics()
    val sql = Map("pipeline_e2e" -> Pipeline.e2eSql, "kge_mrr" -> RankingEval.mrrSql)
    s""""attempted": $attempted, "failed": $failed,""" +
      s""" "errors": ${errors.take(5).map(jstr).mkString("[", ", ", "]")},""" +
      s""" "sizes": ${jobj(sizes.map { case (k, v) => k -> v.toString })},""" +
      s""" "hashes": ${jobj(hashes.map { case (k, v) => k -> jstr(v) })},""" +
      s""" "metrics": ${jobj(m.map { case (k, v) => k -> jnum(v) })},""" +
      s""" "oracle_rows": ${jobj(oracleRows.map { case (k, rs) =>
        k -> rs.map(jrow).mkString("[", ", ", "]") })},""" +
      s""" "oracle_sql": ${jobj(oracleRows.keys.map(k => k -> jstr(sql(k))))}"""
  }

  /** Per span name: the median over units (the operation, then each read
    * round after the warm-up) of the unit's summed fields; 0 for spans the
    * workload does not cross.
    */
  private def layerMetrics(): Seq[(String, Double)] = {
    PerfbenchBus.drain(sc)
    val jobsBySpan = probe.jobs.values.toSeq.groupBy(_.span)
    def fields(ss: Seq[Span]): Map[String, Double] = {
      val perSpan = ss.map(s => s -> jobsBySpan.getOrElse(s.id, Nil))
      val js = perSpan.flatMap(_._2)
      val wall = ss.map(s => (s.endMs - s.startMs) / 1e3).sum
      // time inside the span during which at least one of its jobs ran
      val busy = perSpan.map { case (s, sj) =>
        val iv = sj.map(j => (math.max(j.start, s.startMs),
          math.min(if (j.end > 0) j.end else s.endMs, s.endMs)))
          .filter { case (x, y) => y > x }.sortBy(_._1)
        var covered = 0L
        var upTo = Long.MinValue
        iv.foreach { case (x, y) =>
          val from = math.max(x, upTo)
          if (y > from) covered += y - from
          upTo = math.max(upTo, y)
        }
        covered / 1e3
      }.sum
      val tallies = ss.flatMap(s => probe.bySpan.get(s.id))
      val stages = js.map(_.stages.size).sum
      Map(
        "wall_s" -> wall,
        "driver_s" -> (wall - busy),
        "jobs" -> js.size.toDouble,
        "exec_cpu_s" -> tallies.map(_.cpuNanos).sum / 1e9,
        "gc_s" -> tallies.map(_.gcMs).sum / 1e3,
        "shuffle_write_mb" -> tallies.map(_.shuffleWrite).sum / 1048576.0,
        "spill_mb" -> tallies.map(_.spill).sum / 1048576.0,
        "checkpoint_jobs" -> js.count(_.site.startsWith("localCheckpoint at")).toDouble,
        "skipped_stage_ratio" ->
          (if (stages == 0) 0.0 else js.map(probe.skipped).sum.toDouble / stages))
    }
    val byName = spans.toSeq.filter(_.unit != WarmupRound).groupBy(_.name)
    val out = mutable.LinkedHashMap.empty[String, Double]
    for (name <- LayerSpans) {
      val units = byName.getOrElse(name, Nil).groupBy(_.unit).values.map(fields).toSeq
      for (f <- LayerFields)
        out(s"$name.$f") = if (units.isEmpty) 0.0 else median(units.map(_(f)))
    }
    out.toSeq
  }

  def traceLines: Seq[String] = {
    val s = spans.map(x => s"""{"type": "span", "id": ${x.id}, "name": ${jstr(x.name)},""" +
      s""" "unit": ${x.unit}, "start_ms": ${x.startMs}, "end_ms": ${x.endMs}}""")
    val j = probe.jobs.values.map(x => s"""{"type": "job", "id": ${x.id}, "span": ${x.span},""" +
      s""" "call_site": ${jstr(x.site)}, "start_ms": ${x.start}, "end_ms": ${x.end},""" +
      s""" "stages": ${x.stages.size}, "skipped": ${probe.skipped(x)}}""")
    (s ++ j).toSeq
  }
}
