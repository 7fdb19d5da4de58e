package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{Callable, ExecutionException, Executors, TimeUnit, TimeoutException}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Det, Tables}
import graft.dedup.NearDup
import graft.functions.{BrFunctions, VectorExpressions}
import graft.plans.ConnectedComponents
import graft.queries.TrainingData
import graft.streaming.DocStream
import graft.text.TextFunctions

/** Benchmark harness: runs one workload as a closed loop (one client,
  * one unit at a time) on `local[cores]`, times every unit until its
  * result is fully materialized (a `noop` sink, or the curation
  * pipeline's parquet write), checks the outputs, and writes the raw
  * samples as JSON for `run.py` to summarize.
  *
  * Workloads: `reports` and `training_ops` run registered queries by
  * name; `curation` runs curate -> MinHash-LSH pairs -> connected-
  * component survivors -> sequence packing -> parquet as one unit.
  * With `--trace 1`, odd timed passes run untraced and even passes
  * traced, and the run adds per-layer counts, stage and kernel timings.
  */
object Main {
  private val Stop = Seq("the", "a", "of", "and")
  private val MinQuality = 0.7
  private val PackBudget = 128
  private val UnitTimeoutS = 60L
  // set-ups per run; run.py reports their median as setup_s
  private val SetupReps = 3
  // events is read through Tables.events, which normalizes its timestamps
  private val FixtureTables = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "documents", "embeddings")

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.size
    if (n == 0) 0.0 else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = o("workload")
    val seed = o("seed").toLong
    val nPasses = o("passes").toInt
    val traced = o("trace") == "1"
    val data = o("data")
    val corpus = o.getOrElse("corpus", "")
    val cores = o("cores").toInt
    val units = o.getOrElse("units", "").split(",").toSeq.filter(_.nonEmpty)
    val queries = graft.SparkEntry.queries
    val isCuration = workload == "curation"
    require(isCuration || units.nonEmpty, s"workload $workload has no units")
    units.foreach(u => require(queries.contains(u), s"unknown query $u"))
    val order = if (isCuration) Seq("curation") else units
    val sinkDir = Paths.get("sink").toAbsolutePath.toString

    def session(n: Int): SparkSession = SparkSession.builder()
      .master(s"local[$n]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()

    val res = mutable.LinkedHashMap[String, Any]("workload" -> workload, "seed" -> seed,
      "cores" -> cores, "units" -> order)
    val failures = mutable.ArrayBuffer.empty[String]
    var attempted = 0

    val runStart = System.nanoTime()
    // ---- set-up, repeated `SetupReps` times; the last session is kept
    var spark: SparkSession = null
    val setupS = (1 to SetupReps).map { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(cores)
      spark.sparkContext.setLogLevel("ERROR")
      graft.Graft.init(spark, data)
      if (isCuration) spark.read.parquet(corpus).count()
      else {
        FixtureTables.foreach(t => Tables.table(spark, data, t).count())
        Tables.events(spark, data).count()
      }
      secs(t0)
    }
    res("setup_s") = setupS
    // The persisted stores, timed, in traced runs only: all of the query
    // workloads' stores take tens of seconds, too long to repeat in every
    // run (untraced runs build the stores their units read on first use);
    // curation's store is the signature store of its corpus.
    val prebuildS = if (traced) {
      val tp = System.nanoTime()
      if (isCuration) NearDup.saveSignatureStore(
        spark.read.parquet(corpus).select(col("doc_id"), col("text")), "target/signature_store")
      else TrainingData.prebuildCaches(spark, data)
      secs(tp)
    } else 0.0
    val phases = mutable.LinkedHashMap[String, Double]("setup" -> secs(runStart))

    val pool = Executors.newSingleThreadExecutor { r =>
      val t = new Thread(r, "perfbench-unit"); t.setDaemon(true); t
    }
    /** Runs `body` on the unit thread; a throw or a timeout is a failure. */
    def attempt[A](what: String)(body: => A): Option[A] = {
      attempted += 1
      val f = pool.submit(new Callable[A] { def call(): A = body })
      try Some(f.get(UnitTimeoutS, TimeUnit.SECONDS))
      catch {
        case _: TimeoutException =>
          spark.sparkContext.cancelAllJobs(); f.cancel(true)
          failures += s"$what: timeout after ${UnitTimeoutS}s"; None
        case e: ExecutionException =>
          failures += s"$what: ${String.valueOf(e.getCause).take(300)}"; None
      }
    }

    def curationPlan(s: SparkSession): DataFrame = {
      val curated = DocStream.curate(s.read.parquet(corpus), MinQuality, Stop)
      val text = curated.select(col("doc_id"), col("text"))
      val clean = NearDup.survivors(text, NearDup.minhashLshPairs(text))
        .join(curated.select(col("doc_id"), col("source"), col("n_tok")), Seq("doc_id"))
      TrainingData.packSequences(clean.select(col("doc_id"), col("source"), col("n_tok")), PackBudget)
    }
    def build(name: String): DataFrame =
      if (isCuration) curationPlan(spark) else queries(name)(spark, data)
    def sink(df: DataFrame): Unit =
      if (isCuration) df.write.mode("overwrite").parquet(sinkDir)
      else df.write.format("noop").mode("overwrite").save()

    /** One unit, build then materialize; returns (build_s, exec_s). */
    def runUnit(name: String): Option[(Double, Double)] = attempt(name) {
      val sc = spark.sparkContext
      sc.setJobGroup(s"pb|build|$name", name)
      val t0 = System.nanoTime()
      val df = build(name)
      val b = secs(t0)
      sc.setJobGroup(s"pb|exec|$name", name)
      val t1 = System.nanoTime()
      sink(df)
      val e = secs(t1)
      sc.clearJobGroup()
      (b, e)
    }

    // ---- check pass, then one warm pass; both untimed, both warm the
    // JIT and codegen for the timed passes
    if (!isCuration) {
      val digests = mutable.LinkedHashMap.empty[String, String]
      units.foreach { u =>
        attempt(u) {
          spark.sparkContext.setJobGroup(s"pb|check|$u", u)
          val df = queries(u)(spark, data)
          Digest.of(df.schema, df.collect().toSeq)
        }.foreach(d => digests(u) = d)
      }
      res("digests") = digests
    } else attempt("curation check")(curationCheck(spark, corpus)).foreach { c =>
      res("curation_check") = c
      c("errors").asInstanceOf[Seq[String]].take(5).foreach(e => failures += s"curation check: $e")
    }
    order.foreach(runUnit)

    phases("check_warm") = secs(runStart) - phases.values.sum
    // ---- timed passes, each in its own seed-shuffled order
    val trace = if (traced) Some(new Trace(spark)) else None
    val spans = new Trace.Spans
    val root = spans.add(0, workload, "workload", 0.0, 0.0)
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val layerSamples = mutable.ArrayBuffer.empty[Map[String, Double]]
    for (p <- 1 to nPasses) {
      val tr = trace.filter(_ => p % 2 == 0)
      tr.foreach { t => t.start(); t.take() }
      val gc0 = Trace.gcSeconds()
      val passStart = System.nanoTime()
      val timings = new Random(seed * 1000003L + p).shuffle(order).map { u =>
        val startMs = spans.nowMs
        val plan0 = tr.map(_.planSeconds()).getOrElse(0.0)
        val cpu0 = Steal.sample()
        val r = runUnit(u)
        val steal = Steal.fraction(cpu0, Steal.sample())
        for (t <- tr; (b, e) <- r) {
          val plan = math.min(t.planSeconds() - plan0, e)
          val id = spans.add(root, u, "unit", startMs, (b + e) * 1e3)
          spans.add(id, "build", "queries", startMs, b * 1e3)
          spans.add(id, "plan", "catalyst", startMs + b * 1e3, plan * 1e3)
          spans.add(id, "exec", "exec", startMs + (b + plan) * 1e3, (e - plan) * 1e3)
        }
        (u, r, steal)
      }
      val wall = secs(passStart)
      val ok = timings.collect { case (u, Some((b, e)), st) => (u, b, e, st) }
      passes += Map("traced" -> tr.isDefined, "wall_s" -> wall, "complete" -> (ok.size == order.size),
        "units" -> ok.map { case (u, b, e, st) => Map("name" -> u, "s" -> (b + e), "build_s" -> b, "steal" -> st) })
      tr.foreach { t =>
        layerSamples += t.take() ++ Map(
          "queries.build_s" -> ok.map(_._2).sum,
          "exec.gc_s" -> (Trace.gcSeconds() - gc0))
        t.stop()
      }
    }
    spans.update(root, spans.nowMs)
    res("passes") = passes
    phases("timed") = secs(runStart) - phases.values.sum

    // ---- retained heap after a full collection, at the end of the timed passes
    // Spark's ContextCleaner frees shuffle and broadcast state only after
    // a collection has found it unreachable, so collect until it settles.
    res("retained_heap_mb") = (1 to 4).map { _ =>
      System.gc(); Thread.sleep(250)
      java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min

    // the last timed pass's output holds what the check pass verified
    for (c <- res.get("curation_check").map(_.asInstanceOf[Map[String, Any]])) {
      val written = spark.read.parquet(sinkDir).agg(sum(col("n_tokens"))).collect()(0).getLong(0)
      if (written != c("packed_tokens")) failures += s"curation: sink holds $written tokens, check ${c("packed_tokens")}"
    }

    // ---- traced extras: per-layer medians, stores, and probes run on the
    // curation corpus in every traced run (stage breakdown, kernels, the
    // local[1] speed-up), so every per-layer metric is measured everywhere
    if (traced) {
      val t = trace.get
      val layers = mutable.LinkedHashMap.empty[String, Double]
      val keys = layerSamples.flatMap(_.keys).distinct
      keys.foreach(k => layers(k) = median(layerSamples.map(_.getOrElse(k, 0.0)).toSeq))
      layers("exec.s_per_job") = median(layerSamples.map(m =>
        m.getOrElse("exec.s", 0.0) / math.max(1.0, m.getOrElse("exec.jobs", 0.0))).toSeq)
      layers("exec.core_util") = median(layerSamples.map(m =>
        m.getOrElse("exec.task_run_s", 0.0) / math.max(1e-9, m.getOrElse("exec.s", 0.0) * cores)).toSeq)
      val walls = (b: Boolean) => median(passes.filter(_("traced") == b).map(_("wall_s").asInstanceOf[Double]).toSeq)
      layers("trace.overhead_s") = walls(true) - walls(false)
      layers("stores.prebuild_s") = prebuildS
      layers("stores.disk_bytes") = treeBytes(Paths.get("target")).toDouble
      t.start(); t.take()
      layers ++= curationStages(spark, corpus, sinkDir + "_stages")
      layers("plans.cc_jobs") = t.take()("plans.cc_jobs")
      t.stop()
      layers ++= kernels(spark, data, corpus, cores)
      // a warm curation pass at local[1] against one at local[nproc]
      // (curation's own median untraced pass)
      val warmPass = () => {
        val timed = (1 to 2).map(_ => attempt("curation speed-up") {
          val t1 = System.nanoTime()
          curationPlan(spark).write.mode("overwrite").parquet(sinkDir + "_speedup")
          secs(t1)
        })
        timed.last.getOrElse(0.0)
      }
      val atN = if (isCuration) walls(false) else warmPass()
      spark.stop()
      spark = session(1)
      graft.Graft.init(spark)
      layers("exec.speedup_1to4") = warmPass() / atN
      res("per_layer") = layers
      res("spans") = spans.toJson
    }

    phases("after") = secs(runStart) - phases.values.sum
    res("phase_s") = phases
    res("attempted") = attempted
    res("failures") = failures
    pool.shutdownNow()
    spark.stop()
    Files.writeString(Paths.get(o("out")), Json(res))
  }

  /** The check pass of curation: the pipeline's stages with their
    * results collected, checked independently. Every reported pair is
    * re-verified from the curated text, survivors are recomputed with a
    * union-find over the pairs, no two survivors share a fingerprint,
    * and packing keeps exactly the survivors' tokens. */
  private def curationCheck(spark: SparkSession, corpus: String): Map[String, Any] = {
    val curated = DocStream.curate(spark.read.parquet(corpus), MinQuality, Stop).localCheckpoint()
    val text = curated.select(col("doc_id"), col("text"))
    val pairsDf = NearDup.minhashLshPairs(text).localCheckpoint()
    val pairs = pairsDf.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val docs = curated.select(col("doc_id"), col("text"), col("n_tok")).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getInt(2))).toMap
    val kept = NearDup.survivors(text, pairsDf).select(col("doc_id"))
      .join(curated.select(col("doc_id"), col("source"), col("n_tok")), Seq("doc_id")).localCheckpoint()
    val engineSurvivors = kept.select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val packedTokens = TrainingData.packSequences(kept, PackBudget)
      .agg(sum(col("n_tokens"))).collect()(0).getLong(0)
    val errors = mutable.ArrayBuffer.empty[String]

    def shingles(t: String): Set[String] = {
      val toks = t.trim.split("\\s+")
      if (toks.length < 3) Set.empty else toks.sliding(3).map(_.mkString(" ")).toSet
    }
    pairs.foreach { case (a, b, j) =>
      val (sa, sb) = (shingles(docs(a)._1), shingles(docs(b)._1))
      val inter = (sa & sb).size
      val exact = BigDecimal(inter.toDouble / (sa.size + sb.size - inter)).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      if (j < 0.5 || math.abs(exact - j) > 1e-4) errors += s"pair ($a,$b): jaccard $j, recomputed $exact"
    }
    val parent = mutable.Map.empty[Long, Long]
    def find(x: Long): Long = { val p = parent.getOrElse(x, x); if (p == x) x else { val r = find(p); parent(x) = r; r } }
    pairs.foreach { case (a, b, _) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val survivors = docs.keySet.filter(d => find(d) == d)
    if (survivors != engineSurvivors)
      errors += s"survivors: engine ${engineSurvivors.size}, union-find ${survivors.size}"
    val fps = survivors.toSeq.map(d => docs(d)._1.trim.toLowerCase)
    if (fps.distinct.size != fps.size) errors += "two survivors share a fingerprint"
    val keptTokens = survivors.toSeq.map(d => docs(d)._2.toLong).filter(_ > 0).sum
    if (packedTokens != keptTokens) errors += s"packed tokens $packedTokens != kept $keptTokens"
    if (pairs.isEmpty || survivors.size >= docs.size) errors += "dedup removed nothing"
    Map("curated" -> docs.size, "pairs" -> pairs.length, "survivors" -> survivors.size,
      "packed_tokens" -> packedTokens, "errors" -> errors.toSeq)
  }

  private def noopSeconds(df: DataFrame): Double = {
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    secs(t0)
  }

  /** Curation stage by stage, each stage's input checkpointed so a
    * stage's time is its own. */
  private def curationStages(spark: SparkSession, corpus: String, out: String): Map[String, Double] = {
    val docs = spark.read.parquet(corpus)
    val curated = DocStream.curate(docs, MinQuality, Stop)
    val curateS = noopSeconds(curated)
    val keptFrac = curated.count().toDouble / docs.count()
    val cur = curated.localCheckpoint()
    val text = cur.select(col("doc_id"), col("text"))
    val lshS = noopSeconds(NearDup.minhashLshPairs(text))
    val cand = NearDup.lshCandidateJaccard(text).localCheckpoint()
    val candidates = cand.count().toDouble
    val verified = cand.filter(col("jaccard") >= 0.5).count().toDouble
    val pairs = cand.filter(col("jaccard") >= 0.5)
    val sc = spark.sparkContext
    sc.setJobGroup("pb|cc|curation", "cc")
    val t0 = System.nanoTime()
    val (labels, rounds) = ConnectedComponents.minLabelWithRounds(
      text.select(col("doc_id").as("id")), pairs.select(col("id_a").as("src"), col("id_b").as("dst")))
    labels.write.format("noop").mode("overwrite").save()
    val ccS = secs(t0)
    sc.clearJobGroup()
    val clean = labels.filter(col("id") === col("label")).select(col("id").as("doc_id"))
      .join(cur.select(col("doc_id"), col("source"), col("n_tok")), Seq("doc_id")).localCheckpoint()
    val packS = noopSeconds(TrainingData.packSequences(clean, PackBudget))
    val t1 = System.nanoTime()
    TrainingData.packSequences(clean, PackBudget).write.mode("overwrite").parquet(out)
    val writeS = secs(t1)
    Map("streaming.curate_s" -> curateS, "streaming.kept_frac" -> keptFrac,
      "dedup.lsh_s" -> lshS, "dedup.candidates" -> candidates, "dedup.verified" -> verified,
      "dedup.precision" -> verified / math.max(1.0, candidates),
      "plans.cc_s" -> ccS, "plans.cc_rounds" -> rounds.toDouble, "queries.pack_s" -> packS,
      "sink.write_s" -> writeS, "sink.output_bytes" -> treeBytes(Paths.get(out)).toDouble,
      "sink.output_rows" -> spark.read.parquet(out).count().toDouble)
  }

  /** Rows per second of each primitive alone: a one-column projection
    * (one aggregate for the exact sum) over a checkpointed input,
    * fully materialized, best of two. */
  private def kernels(spark: SparkSession, data: String, corpus: String, cores: Int): Map[String, Double] = {
    val docs = spark.read.parquet(corpus).select(col("text"))
      .crossJoin(spark.range(2)).select(col("text")).repartition(cores).localCheckpoint()
    val li = Tables.lineitem(spark, data).select(col("l_extendedprice"))
      .crossJoin(spark.range(2)).select(col("l_extendedprice"),
        BrFunctions.formatBrl(col("l_extendedprice")).as("brl")).repartition(cores).localCheckpoint()
    val emb = Tables.embeddings(spark, data).select(col("embedding"))
      .crossJoin(spark.range(20)).select(col("embedding")).repartition(cores).localCheckpoint()
    val q = Tables.embeddings(spark, data).select(col("embedding")).head().getSeq[Float](0)
    def rate(df: DataFrame, c: Column, agg: Boolean = false): Double = {
      val n = df.count().toDouble
      val run = if (agg) df.agg(c.as("k")) else df.select(c.as("k"))
      n / (1 to 2).map(_ => noopSeconds(run)).min
    }
    Map(
      "text.shingles_rows_per_s" -> rate(docs, size(TextFunctions.shingles(col("text"), 3))),
      "dedup.md5hash32_rows_per_s" -> rate(docs, NearDup.md5Hash32(col("text"))),
      "text.quality_rows_per_s" -> rate(docs, TextFunctions.qualityScore(col("text"), Stop)),
      "text.redact_rows_per_s" -> rate(docs, TextFunctions.redactPii(col("text"))),
      "functions.brl_parse_rows_per_s" -> rate(li, BrFunctions.parseBrlMoney(col("brl"))),
      "core.det_sum_rows_per_s" -> rate(li, Det.dsum(col("l_extendedprice")), agg = true),
      "functions.cosine_rows_per_s" -> rate(emb, VectorExpressions.cosineSim(col("embedding"), typedLit(q))))
  }

  private def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
}

/** CPU time the hypervisor gave to other machines, from the aggregate
  * line of `/proc/stat` (steal is its 8th counter). A unit that ran
  * while its cores were taken away measures the neighbours, not the
  * engine; `run.py` leaves such samples out. Zero where there is no
  * `/proc/stat`. */
object Steal {
  def sample(): (Long, Long) =
    try {
      val f = scala.io.Source.fromFile("/proc/stat")
      val v = try f.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally f.close()
      (if (v.length > 7) v(7) else 0L, v.sum)
    } catch { case _: Exception => (0L, 0L) }

  def fraction(a: (Long, Long), b: (Long, Long)): Double =
    if (b._2 > a._2) (b._1 - a._1).toDouble / (b._2 - a._2) else 0.0
}

/** Minimal JSON writer for the results file. */
object Json {
  private def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] => m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
}
