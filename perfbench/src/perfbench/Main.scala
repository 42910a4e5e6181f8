package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.{DedupConfig, Pipeline}
import graft.texthash.TextHash

/** One benchmark run:
  * `Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>`.
  *
  * Traffic is batch and closed-loop: one client runs one job at a time, and
  * the next job starts when the previous one ends. Set-up builds the input
  * and runs one untimed warm-up job on it. Untraced runs then repeat the
  * workload's job until the jobs' wall time adds up to `--seconds` and
  * report medians over the jobs; their only instrument is [[TaskSums]].
  * Traced runs make one untraced job, then one traced job through
  * [[Traced]], and report the per-layer metrics. The last stdout line is the
  * result JSON. */
object Main {

  /** Workloads. Sizes keep one run, set-up included, near a minute on a
    * 4-core host, because every run starts a JVM and warms it up. */
  sealed trait Workload
  /** Plain `Pipeline.run` on the bench corpus; its traced run also times
    * the catalog queries. */
  final case class PipelineRun(documents: Long, mult: Int) extends Workload
  /** Checkpointed `Pipeline.run` on a corpus with copy groups around the
    * hot-key cap; its traced run also times a resume over the completed
    * `workDir`. */
  final case class CopiesRun(entities: Long) extends Workload

  val Workloads: Map[String, Workload] = Map(
    "pipeline" -> PipelineRun(documents = 500, mult = 20),
    "copies-ckpt" -> CopiesRun(entities = 1500))

  /** Scale factor of the tables the catalog queries read. */
  val CatalogSf = 0.001

  /** The frozen `graft.Bench` catalog list plus `ann_cosine_topk`. */
  val CatalogQueries: Seq[String] = Seq(
    "q1_agg", "q_join_agg", "q_window_topn", "q_anti_join", "q_sort_limit",
    "pred_token_field", "pred_fingerprint", "pred_common_four_gram",
    "pairs_self_join", "score_jaccard_tokens", "score_cosine_tfidf",
    "score_lcs_suffix", "cluster_cc",
    "dedup_exact", "dedup_minhash_sig", "dedup_simhash16",
    "dedup_minhash_lsh", "dedup_ngram_jaccard", "dedup_embed_cosine",
    "tfidf_search",
    "text_token_stats", "text_quality", "text_langid", "text_fingerprint",
    "ann_l2_topk", "mm_binary_meta",
    "learn_cover", "learn_weighted_sample", "ann_cosine_topk")

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "docs_per_s" -> "1/s", "cpu_s" -> "s", "shuffle_mb" -> "MB",
    "peak_task_mem_mb" -> "MB", "dup_pair_recall" -> "ratio", "dup_pair_precision" -> "ratio")

  val Kernels = Seq("normalize", "shingles", "minhash", "simhash", "suffix_keys")

  val PerLayer: Seq[(String, String)] =
    Traced.Spans.flatMap(s => Seq(s"$s.wall_s" -> "s", s"$s.cpu_s" -> "s",
      s"$s.shuffle_write_mb" -> "MB", s"$s.rows_out" -> "count", s"$s.busy_share" -> "ratio")) ++
      Seq("dedup.Blocking.key_rows" -> "count", "dedup.Blocking.hot_keys_dropped" -> "count",
        "dedup.Blocking.raw_pairs" -> "count", "dedup.Blocking.dup_factor" -> "ratio",
        "dedup.Scoring.pairs_verified" -> "count", "dedup.Scoring.edges" -> "count",
        "dedup.Scoring.yield" -> "ratio",
        "dedup.ConnectedComponents.largest_nodes" -> "count", "dedup.ClusterStage.clusters" -> "count",
        "dedup.Pipeline.jobs" -> "count", "dedup.Pipeline.tasks" -> "count",
        "dedup.Pipeline.cache_retained_mb" -> "MB", "dedup.Pipeline.resume_s" -> "s",
        "io.TableIO.written_mb" -> "MB", "io.TableIO.write_amplification" -> "ratio",
        "trace.unattributed_s" -> "s") ++
      Inputs.copySizes(DedupConfig().hotKeyAbsCap).flatMap { case (n, _) =>
        Seq(s"copies.exact_$n.clusters" -> "count", s"copies.near_$n.clusters" -> "count")
      } ++
      Kernels.map(k => s"texthash.${k}_ns_per_doc" -> "ns/doc") ++
      CatalogQueries.map(q => s"ops.$q.wall_s" -> "s") :+ ("ops.catalog_s" -> "s")

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, work: String)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def get(k: String): String = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val a = Args(get("workload"), get("seed").toLong, get("seconds").toInt,
      get("trace") match {
        case "0" => false
        case "1" => true
        case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, not $t")
      }, get("work"))
    require(Workloads.contains(a.workload),
      s"unknown workload ${a.workload}; known: ${Workloads.keys.toSeq.sorted.mkString(", ")}")
    require(a.seconds >= 1, "--seconds must be at least 1")
    a
  }

  def main(args: Array[String]): Unit = {
    val a = parse(args)
    val run = new Run(a)
    val line = try {
      val metrics = run.execute()
      val body = (if (a.trace) PerLayer else EndToEnd).map { case (k, unit) =>
        val v = metrics.getOrElse(k, throw new IllegalStateException(s"metric $k was not measured"))
        require(!v.isNaN && !v.isInfinite, s"metric $k is $v")
        s""""$k": {"value": $v, "unit": "$unit"}"""
      }.mkString("{", ", ", "}")
      s"""{"correct": ${run.failed == 0}, "attempted": ${run.attempted}, "failed": ${run.failed}, "metrics": $body}"""
    } catch {
      case e: Throwable =>
        e.printStackTrace(System.err)
        run.stop()
        sys.exit(1)
    }
    run.stop()
    println(line)
  }
}

/** State of one run: the session, the listener and the operation counts. */
final class Run(a: Main.Args) {
  import Main._

  private def log(msg: String): Unit =
    System.err.println(f"[perfbench ${ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%7.2f] $msg")

  val cores: Int = Runtime.getRuntime.availableProcessors()
  private val work = new File(a.work).getAbsoluteFile
  private val cfg = DedupConfig()

  var attempted = 0L
  var failed = 0L

  /** Counts one operation; a thrown error or a failed check fails it. */
  private def op[A](what: String)(f: => A): Option[A] = {
    attempted += 1
    try Some(f) catch {
      case e: Exception =>
        failed += 1
        log(s"FAILED $what: $e")
        e.printStackTrace(System.err)
        None
    }
  }
  private def check(what: String, problems: Seq[String]): Unit = {
    attempted += 1
    if (problems.nonEmpty) {
      failed += 1
      problems.foreach(p => log(s"CHECK FAILED $what: $p"))
    }
  }

  private def path(sub: String): String = new File(work, sub).getPath

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.local.dir", path("spark-local"))
      .config("spark.sql.warehouse.dir", path("warehouse"))
      .config("spark.sql.session.timeZone", "UTC")
      // the session settings of the frozen graft.Bench
      .config("spark.sql.autoBroadcastJoinThreshold", "256m")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  lazy val sums: TaskSums = {
    val t = new TaskSums
    spark.sparkContext.addSparkListener(t)
    t
  }

  def stop(): Unit = spark.stop()

  private def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, seconds(t0))
  }

  private def persistentIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Releases every cache but the `keep` RDDs: Dataset caches and the
    * RDD-level local checkpoints the program leaves behind. */
  private def release(keep: Set[Int]): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!keep(id)) rdd.unpersist(blocking = true)
    }
  }

  /** Storage held by cached RDDs outside `keep`, in MB. */
  private def cachedMb(keep: Set[Int]): Double =
    spark.sparkContext.getRDDStorageInfo.filterNot(i => keep(i.id))
      .map(i => i.memSize + i.diskSize).sum / 1e6

  /** Input materialized outside the Spark SQL cache (a local checkpoint),
    * so that releasing the program's caches keeps it. */
  final case class Input(df: DataFrame, rows: Long, ids: Set[Int])

  private def materializeInput(df: DataFrame): Input = {
    val before = persistentIds
    val m = df.localCheckpoint(eager = true)
    Input(m, m.count(), persistentIds -- before)
  }

  /** Builds the input `times` times and keeps the last build; returns the
    * median build time. */
  private def buildInput(times: Int)(build: => DataFrame): (Input, Double) = {
    var input: Input = null
    val secs = (1 to times).map { _ =>
      if (input != null) release(Set.empty)
      val (in, s) = timed(materializeInput(build))
      input = in
      s
    }
    (input, Stats.median(secs))
  }

  private def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(dirBytes).sum else f.length()

  private def deleteDir(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteDir)
    f.delete()
  }

  /** Result of one timed pipeline job. */
  final case class Job(wallS: Double, sums: Sums, digest: Outputs.Digest, out: DataFrame)

  /** One timed job: `Pipeline.run` and the materialization of every output
    * column into a cache, which the untimed checks then read. */
  private def pipelineJob(pages: DataFrame, workDir: Option[String]): Job = {
    sums.reset(spark.sparkContext)
    val t0 = System.nanoTime()
    val out = Pipeline.run(spark, pages, cfg, workDir).persist()
    val d = Outputs.digest(out)
    val wall = seconds(t0)
    Job(wall, sums.total(spark.sparkContext), d, out)
  }

  /** The run's metrics: end-to-end untraced, per-layer traced. */
  def execute(): Map[String, Double] = {
    val sessionS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3 + timed(spark)._2
    log(f"session ready at $sessionS%.2f s after JVM start")
    sums
    val w = Workloads(a.workload)
    val copies = w.isInstanceOf[CopiesRun]
    val workDir = if (copies) Some(path("ckpt")) else None
    def pages: DataFrame = w match {
      case PipelineRun(documents, mult) => Inputs.benchPages(spark, path("data"), documents, mult, a.seed)
      case CopiesRun(entities) => Inputs.copiesPages(spark, entities, cfg.hotKeyAbsCap, a.seed)
    }
    val (input, inputS) = buildInput(3)(pages)
    val programInput = input.df.select(col("url"), col("text"))

    def freshJob(): Job = {
      release(input.ids)
      workDir.foreach(d => deleteDir(new File(d)))
      op("pipeline run")(pipelineJob(programInput, workDir))
        .getOrElse(throw new IllegalStateException("pipeline run failed"))
    }
    def sameOutput(what: String, d: Outputs.Digest, reference: Outputs.Digest): Unit =
      check(what, if (d == reference) Nil else Seq(s"output digest $d differs from $reference"))

    // warm-up: one untimed job on the input itself, so JIT, codegen and the
    // plans the input's sizes lead to land in set-up, not in the timed jobs.
    // Its output is checked in full; every later job must reproduce it.
    val warm = freshJob()
    val setupS = sessionS + inputS + warm.wallS
    log(f"set-up ${setupS}%.2f s (session $sessionS%.2f, input $inputS%.2f, warm-up ${warm.wallS}%.2f); ${input.rows} pages")
    check("pipeline output", Outputs.problems(warm.out, warm.digest, input.df.select(col("url")), input.rows))

    if (!a.trace) {
      val (recall, precision) = Outputs.pairQuality(warm.out, input.df)
      log(f"pair recall $recall%.4f, precision $precision%.4f")
      warm.out.unpersist(blocking = true)
      // jobs repeat until their summed wall time reaches --seconds
      val jobs = mutable.ArrayBuffer.empty[Job]
      while (jobs.map(_.wallS).sum < a.seconds) {
        val j = freshJob()
        log(f"job ${jobs.size + 1}: ${j.wallS}%.3f s, cpu ${j.sums.cpuS}%.2f s, shuffle ${j.sums.shuffleWriteMb}%.1f MB")
        sameOutput("pipeline output", j.digest, warm.digest)
        j.out.unpersist(blocking = true)
        jobs += j
      }
      Map("setup_s" -> setupS,
        "docs_per_s" -> input.rows / Stats.median(jobs.map(_.wallS).toSeq),
        "cpu_s" -> Stats.median(jobs.map(_.sums.cpuS).toSeq),
        "shuffle_mb" -> Stats.median(jobs.map(_.sums.shuffleWriteMb).toSeq),
        "peak_task_mem_mb" -> Stats.median(jobs.map(_.sums.peakExecMemMb).toSeq),
        "dup_pair_recall" -> recall,
        "dup_pair_precision" -> precision)
    } else {
      val m = mutable.LinkedHashMap.empty[String, Double]
      PerLayer.foreach { case (k, _) => m(k) = 0.0 }
      warm.out.unpersist(blocking = true)
      val ref = freshJob()
      sameOutput("pipeline output", ref.digest, warm.digest)
      if (copies) {
        ref.out.join(input.df.filter(col("group") =!= ""), "url")
          .groupBy(col("group")).agg(countDistinct(col("cluster_id")))
          .collect().foreach(r => m(s"copies.${r.getString(0)}.clusters") = r.getLong(1).toDouble)
      }
      ref.out.unpersist(blocking = true)
      m("dedup.Pipeline.cache_retained_mb") = cachedMb(input.ids)
      m("dedup.Pipeline.jobs") = ref.sums.jobs.toDouble
      m("dedup.Pipeline.tasks") = ref.sums.tasks.toDouble
      workDir.foreach { d =>
        val textBytes = input.df.agg(sum(octet_length(col("text")))).head().getLong(0)
        m("io.TableIO.written_mb") = ref.sums.outputBytes / 1e6
        m("io.TableIO.write_amplification") = dirBytes(new File(d)).toDouble / textBytes
        release(input.ids)
        op("resume run") {
          val (d2, resumeS) = timed(Outputs.digest(Pipeline.run(spark, programInput, cfg, workDir)))
          sameOutput("resume output", d2, ref.digest)
          m("dedup.Pipeline.resume_s") = resumeS
        }
      }

      release(input.ids)
      workDir.foreach(d => deleteDir(new File(d)))
      sums.reset(spark.sparkContext)
      val tr = new Tracer(spark, sums)
      op("traced run") {
        val (out, c) = Traced.run(spark, programInput, cfg, workDir, tr)
        val d = Outputs.digest(out)
        sameOutput("traced output", d, ref.digest)
        tr.spanMetrics(cores).foreach { case (span, kvs) => kvs.foreach { case (k, v) => m(s"$span.$k") = v } }
        m("dedup.Blocking.key_rows") = c.keyRows.toDouble
        m("dedup.Blocking.hot_keys_dropped") = c.hotKeysDropped.toDouble
        m("dedup.Blocking.raw_pairs") = c.rawPairs.toDouble
        m("dedup.Blocking.dup_factor") = Stats.ratio(c.rawPairs, c.pairsVerified)
        m("dedup.Scoring.pairs_verified") = c.pairsVerified.toDouble
        m("dedup.Scoring.edges") = c.edges.toDouble
        m("dedup.Scoring.yield") = Stats.ratio(c.edges, c.pairsVerified)
        m("dedup.ConnectedComponents.largest_nodes") = c.largestNodes.toDouble
        m("dedup.ClusterStage.clusters") = c.clusters.toDouble
        m("trace.unattributed_s") = ref.wallS - tr.totalWallS
      }
      release(input.ids)
      kernels(input.df).foreach { case (k, v) => m(s"texthash.${k}_ns_per_doc") = v }
      if (!copies) catalog().foreach { case (q, s) => m(s"ops.$q.wall_s") = s; m("ops.catalog_s") += s }
      m.toMap
    }
  }

  /** Single-thread kernel timings over a fixed sample of the input texts:
    * kernel -> median ns per doc over three passes. */
  private def kernels(pages: DataFrame): Seq[(String, Double)] = {
    val raw = pages.filter(col("text").isNotNull).orderBy(xxhash64(col("url")))
      .select(col("text")).limit(2000).collect().map(_.getString(0))
    require(raw.nonEmpty, "kernel sample is empty")
    val norm = raw.map(TextHash.normalizeText)
    val sh = norm.map(t => TextHash.shingleHashes(t, cfg.shingleK, cfg.seed))
    var sink = 0L
    def perDoc[T](xs: Array[T])(f: T => Long): Double = Stats.median((1 to 3).map { _ =>
      val t0 = System.nanoTime()
      xs.foreach(x => sink ^= f(x))
      (System.nanoTime() - t0).toDouble / xs.length
    })
    val r = Seq(
      "normalize" -> perDoc(raw)(t => TextHash.normalizeText(t).length.toLong),
      "shingles" -> perDoc(norm)(t => TextHash.shingleHashes(t, cfg.shingleK, cfg.seed).length.toLong),
      "minhash" -> perDoc(sh)(s => TextHash.minhashSignature(s, cfg.numHashes, cfg.seed)(0)),
      "simhash" -> perDoc(norm)(t => TextHash.simhashText(t, cfg.seed)),
      "suffix_keys" -> perDoc(norm)(t => TextHash.suffixKeys(t, cfg.suffixWidth, cfg.suffixEvery, cfg.seed).length.toLong))
    log(s"kernel sink $sink")
    r
  }

  /** The catalog queries, each through a `noop` sink, over tables generated
    * from the seed: query -> wall seconds of the queries that succeeded. */
  private def catalog(): Seq[(String, Double)] = {
    val dir = path("catalog")
    Inputs.writeCatalogTables(spark, dir, CatalogSf, a.seed)
    val times = CatalogQueries.flatMap { q =>
      val fn = graft.SparkEntry.queries.getOrElse(q,
        throw new IllegalStateException(s"catalog query $q is not in SparkEntry.queries"))
      op(s"catalog query $q")(q -> timed(fn(spark, dir).write.format("noop").mode("overwrite").save())._2)
    }
    log(f"catalog pass ${times.map(_._2).sum}%.3f s")
    times
  }
}
