package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.dedup.{Blocking, ClusterStage, ConnectedComponents, DedupConfig, Scoring}
import graft.io.TableIO

/** Spans around calls into the program's layers. Each span runs under its
  * own Spark job group, so [[TaskSums]] attributes task metrics to it. */
final class Tracer(spark: SparkSession, sums: TaskSums) {
  private val sc = spark.sparkContext
  private val wallNs = mutable.LinkedHashMap.empty[String, Long]
  private val rowsOut = mutable.LinkedHashMap.empty[String, Long]

  def span[A](name: String)(f: => A): A = {
    sc.setJobGroup(name, name, interruptOnCancel = false)
    val t0 = System.nanoTime()
    try f finally {
      wallNs(name) = wallNs.getOrElse(name, 0L) + (System.nanoTime() - t0)
      sc.clearJobGroup()
    }
  }

  def addRows(name: String, n: Long): Unit = rowsOut(name) = rowsOut.getOrElse(name, 0L) + n

  /** Runs `f` outside every span, under a group of its own. */
  def untraced[A](group: String)(f: => A): A = {
    sc.setJobGroup(group, group, interruptOnCancel = false)
    try f finally sc.clearJobGroup()
  }

  def totalWallS: Double = wallNs.values.sum / 1e9

  /** name -> (wall_s, cpu_s, shuffle_write_mb, rows_out, busy_share). */
  def spanMetrics(cores: Int): Map[String, Seq[(String, Double)]] = wallNs.keys.map { name =>
    val s = sums.ofGroup(sc, name)
    val wall = wallNs(name) / 1e9
    name -> Seq("wall_s" -> wall, "cpu_s" -> s.cpuS, "shuffle_write_mb" -> s.shuffleWriteMb,
      "rows_out" -> rowsOut.getOrElse(name, 0L).toDouble,
      "busy_share" -> Stats.ratio(s.runS, wall * cores))
  }.toMap
}

/** The traced run: the public functions `Pipeline.run` calls, with the same
  * arguments and in the same order, each stage's output materialized inside
  * its span (and, with a `workDir`, written through `TableIO.checkpoint` in
  * a span of its own). */
object Traced {

  final case class Counts(keyRows: Long, hotKeysDropped: Long, rawPairs: Long,
                          pairsVerified: Long, edges: Long, largestNodes: Long, clusters: Long)

  val Signatures = "dedup.Blocking.signatures"
  val CandidatePairs = "dedup.Blocking.candidatePairs"
  val ScorePairs = "dedup.Scoring.scorePairs"
  val WithRefilter = "dedup.ConnectedComponents.withRefilter"
  val ClusterComponents = "dedup.ClusterStage.clusterComponents"
  val CompleteAndLabel = "dedup.ClusterStage.completeAndLabel"
  val Checkpoint = "io.TableIO.checkpoint"
  val Spans = Seq(Signatures, CandidatePairs, ScorePairs, WithRefilter, ClusterComponents,
    CompleteAndLabel, Checkpoint)

  private def materialize[T](ds: Dataset[T]): (Dataset[T], Long) = {
    val p = ds.persist(StorageLevel.MEMORY_AND_DISK)
    (p, p.count())
  }

  def run(spark: SparkSession, pages: DataFrame, cfg: DedupConfig, workDir: Option[String],
          tr: Tracer): (DataFrame, Counts) = {
    import spark.implicits._
    require(!cfg.exactIds, "the traced run follows the xxhash64 record-id path")

    def checkpointed(name: String, df: DataFrame): DataFrame = workDir match {
      case Some(dir) =>
        val out = tr.span(Checkpoint)(TableIO.checkpoint(spark, s"$dir/$name")(df))
        df.unpersist(blocking = false)
        out
      case None => df
    }
    def stage(span: String, name: String)(df: => DataFrame): (DataFrame, Long) = {
      val (m, n) = tr.span(span)(materialize(df))
      tr.addRows(span, n)
      workDir.foreach(_ => tr.addRows(Checkpoint, n))
      (checkpointed(name, m), n)
    }

    val normalized = checkpointed("normalized",
      pages.select($"url", xxhash64($"url").as("nid"),
        graft.expr.functions.normalize_text($"text").as("text")))
    val collisionF = scala.concurrent.Future {
      tr.untraced("trace.collision_guard") {
        normalized.groupBy($"nid").agg(min($"url").as("u1"), max($"url").as("u2"))
          .filter($"u1" =!= $"u2").count()
      }
    }(scala.concurrent.ExecutionContext.global)

    val sigDf = Blocking.signatures(normalized.filter($"text".isNotNull).select($"nid", $"text"),
      cfg, idCol = "nid")
      .withColumn("bkeys", graft.expr.functions.band_keys($"sig", cfg.bands))
      .drop("sig")
    val sigStage = if (workDir.isEmpty) sigDf else stage(Signatures, "signatures")(sigDf)._1
    val (sigs, nDocs) = tr.span(Signatures)(materialize(sigStage.repartition($"nid")))
    if (workDir.isEmpty) tr.addRows(Signatures, nDocs)
    val collisions = scala.concurrent.Await.result(collisionF, scala.concurrent.duration.Duration.Inf)
    require(collisions == 0, s"xxhash64(url) record-id collision ($collisions colliding ids)")

    val inJoinPrefilter = cfg.useSimHash && cfg.scoreMaxHamming < 64
    var blocking: Blocking.BlockingResult = null
    val keys = Blocking.blockKeys(sigs, cfg, idCol = "nid", carryFp = inJoinPrefilter)
    val (pairs, rawPairs) = stage(CandidatePairs, "pairs") {
      blocking = Blocking.candidatePairs(keys, nDocs, cfg, idCol = "nid", dedup = false,
        maxHamming = if (inJoinPrefilter) cfg.scoreMaxHamming else 64)
      blocking.pairs
    }
    val (keyRows, hotDropped, verified) = tr.untraced("trace.counts") {
      (keys.count(), blocking.hotKeysDropped, pairs.distinct().count())
    }

    val (scored, edges) = stage(ScorePairs, "scored") {
      Scoring.scorePairs(pairs, sigs, idCol = "nid", minScore = cfg.minScore,
        maxHamming = if (inJoinPrefilter) 64 else cfg.scoreMaxHamming, dedupePairs = true,
        scoreLcs = cfg.scoreLcs, lcsWindow = cfg.lcsWindow, lcsPrefix = cfg.lcsPrefix,
        suffixWidth = cfg.suffixWidth, suffixEvery = cfg.suffixEvery,
        seed = cfg.seed, lcsDfCap = cfg.hotKeyAbsCap)
    }

    val (labeled, _) = stage(WithRefilter, "components") {
      ConnectedComponents.withRefilter(scored, cfg.maxComponents)
    }
    blocking.cleanup()
    val largest = tr.untraced("trace.counts") {
      val nodes = labeled.select($"a".as("n"), $"comp").union(labeled.select($"b".as("n"), $"comp")).distinct()
      Option(nodes.groupBy($"comp").count().agg(max($"count")).head().get(0))
        .map(_.asInstanceOf[Long]).getOrElse(0L)
    }

    val (clustered, nClustered) = tr.span(ClusterComponents) {
      materialize(ClusterStage.clusterComponents(labeled, cfg.threshold, cfg.maxComponents))
    }
    tr.addRows(ClusterComponents, nClustered)
    val nClusters = tr.untraced("trace.counts")(clustered.select($"cluster_nid").distinct().count())
    val (clusters, _) = stage(CompleteAndLabel, "clusters") {
      ClusterStage.completeAndLabel(normalized.select($"nid", $"url"), clustered)
    }
    (clusters, Counts(keyRows, hotDropped, rawPairs, verified, edges, largest, nClusters))
  }
}
