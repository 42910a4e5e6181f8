package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Materialization, checks and quality of the pipeline's (url, cluster_id,
  * confidence) output. */
object Outputs {

  /** Order-independent digest of every output column. Computing it reads
    * every column of every row, which `count()` would let the optimizer
    * prune. */
  final case class Digest(rows: Long, xor: Long, hi: Long, lo: Long,
                          minConfidence: Double, maxConfidence: Double, nullConfidence: Long)

  def digest(out: DataFrame): Digest = {
    val h = xxhash64(col("url"), col("cluster_id"), col("confidence"))
    val r = out.agg(count(lit(1)), bit_xor(h), sum(shiftrightunsigned(h, 32)),
      sum(h.bitwiseAND(lit(0xffffffffL))), min(col("confidence")), max(col("confidence")),
      count(when(col("confidence").isNull, 1))).head()
    if (r.getLong(0) == 0) Digest(0, 0, 0, 0, 0, 0, 0)
    else Digest(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getDouble(4), r.getDouble(5), r.getLong(6))
  }

  /** Failed checks of an output against its input urls: every input url
    * appears exactly once, `cluster_id` is the smallest member url of its
    * cluster, and every confidence is in [0, 1]. */
  def problems(out: DataFrame, d: Digest, inputUrls: DataFrame, nInput: Long): Seq[String] = {
    val dupUrls = out.groupBy(col("url")).count().filter(col("count") > 1).count()
    val missing = inputUrls.join(out, Seq("url"), "left_anti").count()
    val misnamed = out.groupBy(col("cluster_id")).agg(min(col("url")).as("m"))
      .filter(col("m") =!= col("cluster_id")).count()
    Seq(
      (d.rows == nInput) -> s"output has ${d.rows} rows for $nInput input pages",
      (dupUrls == 0) -> s"$dupUrls urls appear more than once",
      (missing == 0) -> s"$missing input urls are missing",
      (misnamed == 0) -> s"$misnamed clusters are not named by their smallest url",
      (d.nullConfidence == 0 && d.minConfidence >= 0 && d.maxConfidence <= 1) ->
        s"confidence outside [0, 1]: ${d.minConfidence}..${d.maxConfidence}, ${d.nullConfidence} null"
    ).collect { case (false, msg) => msg }
  }

  /** Same-cluster pairs compared with the pairs sharing an `entity_id`
    * (the pairs of [[graft.data.WebText.truePairs]]): (recall, precision).
    * Pairs are counted, not listed: a group of n pages holds n(n-1)/2
    * pairs, so true pairs, predicted pairs and true positives come from the
    * sizes of the entity, cluster and (cluster, entity) groups. */
  def pairQuality(out: DataFrame, truth: DataFrame): (Double, Double) = {
    val pages = out.select(col("url"), col("cluster_id"))
      .join(truth.select(col("url"), col("entity_id")), "url")
    def pairs(keys: String*): Long = {
      val n = col("n")
      Option(pages.groupBy(keys.map(col): _*).agg(count(lit(1)).as("n"))
        .agg(sum(n * (n - 1) / 2)).head().get(0)).map(_.asInstanceOf[Number].longValue()).getOrElse(0L)
    }
    Stats.recallPrecision(pairs("cluster_id", "entity_id"), pairs("entity_id"), pairs("cluster_id"))
  }
}
