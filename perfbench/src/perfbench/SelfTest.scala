package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.lit

/** The benchmark's own tests: the helpers it reports through, and the output
  * checks and pair quality on a tiny fixture whose answers are worked out by
  * hand. Exits non-zero on the first failure. */
object SelfTest {
  private var failures = 0

  private def expect(what: String, cond: Boolean): Unit =
    if (cond) println(s"ok   $what")
    else { failures += 1; println(s"FAIL $what") }

  private def near(a: Double, b: Double): Boolean = math.abs(a - b) < 1e-12

  def main(args: Array[String]): Unit = {
    expect("median of an odd count is the middle value", Stats.median(Seq(5.0, 1.0, 3.0)) == 3.0)
    expect("median of an even count averages the middle two", Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    expect("median of one value", Stats.median(Seq(7.0)) == 7.0)
    expect("median of nothing is refused",
      scala.util.Try(Stats.median(Nil)).isFailure)
    expect("ratio divides", Stats.ratio(3, 4) == 0.75)
    expect("ratio over nothing attempted is 0", Stats.ratio(5, 0) == 0.0)
    expect("recall and precision", Stats.recallPrecision(1, 4, 2) == ((0.25, 0.5)))
    expect("no predicted pairs gives precision 0", Stats.recallPrecision(0, 4, 0) == ((0.0, 0.0)))

    val spark = SparkSession.builder().master("local[1]").appName("perfbench-selftest")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.local.dir", args.headOption.getOrElse("."))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    try {
      // entities: {a1, a2, a3}, {b1, b2}, {c1} -> 4 true pairs:
      // a1-a2, a1-a3, a2-a3, b1-b2
      val truth = Seq(("a1", 1L), ("a2", 1L), ("a3", 1L), ("b1", 2L), ("b2", 2L), ("c1", 3L))
        .toDF("url", "entity_id")
      // clusters {a1, a2}, {a3, b1}, {b2}, {c1} -> predicted pairs a1-a2 and
      // a3-b1, of which a1-a2 is true: recall 1/4, precision 1/2
      val good = Seq(("a1", "a1", 0.9), ("a2", "a1", 0.8), ("a3", "a3", 0.7), ("b1", "a3", 0.7),
        ("b2", "b2", 1.0), ("c1", "c1", 1.0)).toDF("url", "cluster_id", "confidence")
      val (recall, precision) = Outputs.pairQuality(good, truth)
      expect(s"pair recall 0.25 (got $recall)", near(recall, 0.25))
      expect(s"pair precision 0.5 (got $precision)", near(precision, 0.5))
      val perfect = truth.select($"url", $"entity_id".cast("string").as("cluster_id"), lit(1.0).as("confidence"))
      expect("pair recall of the truth itself is 1", near(Outputs.pairQuality(perfect, truth)._1, 1.0))
      // the counted pairs agree with the listed ones
      val predicted = good.as("x").join(good.as("y"), "cluster_id").filter($"x.url" < $"y.url")
        .select($"x.url".as("a"), $"y.url".as("b"))
      val listed = graft.data.WebText.truePairs(truth)
      val tp = predicted.intersect(listed).count()
      expect("counted pairs equal listed pairs", Stats.recallPrecision(tp, listed.count(), predicted.count()) ==
        ((recall, precision)))

      val urls = truth.select($"url")
      val d = Outputs.digest(good)
      expect("a correct output has no problems", Outputs.problems(good, d, urls, 6).isEmpty)
      expect("the digest ignores row order", Outputs.digest(good.orderBy($"url".desc)) == d)
      expect("the digest reads the confidence column",
        Outputs.digest(good.withColumn("confidence", lit(0.5))) != d)
      def problemsOf(rows: Seq[(String, String, Double)]): Seq[String] = {
        val df = rows.toDF("url", "cluster_id", "confidence")
        Outputs.problems(df, Outputs.digest(df), urls, 6)
      }
      val rows = Seq(("a1", "a1", 0.9), ("a2", "a1", 0.8), ("a3", "a3", 0.7), ("b1", "a3", 0.7),
        ("b2", "b2", 1.0), ("c1", "c1", 1.0))
      expect("a cluster not named by its smallest url is found",
        problemsOf(rows.map { case ("a3", _, c) => ("a3", "b1", c); case ("b1", _, c) => ("b1", "b1", c); case r => r })
          .exists(_.contains("smallest url")))
      expect("a repeated url is found",
        problemsOf(rows.init :+ (("b2", "b2", 1.0))).exists(_.contains("more than once")))
      expect("a missing url is found", problemsOf(rows.init).exists(_.contains("missing")))
      expect("a confidence above 1 is found",
        problemsOf(rows.map { case (u, c, _) if u == "c1" => (u, c, 1.5); case r => r })
          .exists(_.contains("confidence")))
    } finally spark.stop()

    if (failures > 0) {
      println(s"$failures self-test(s) failed")
      sys.exit(1)
    }
    println("all self-tests passed")
  }
}
