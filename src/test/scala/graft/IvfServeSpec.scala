package graft

import java.nio.file.Files
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.sim.Similarity

/** The served IVF read routes its probes on the driver
  * ([[Similarity.knnIvfFromIndex]]); [[Similarity.knnIvf]] routes them
  * in Spark. The two must answer row for row alike, on corpora built so
  * the routing order is decided by its edge cases: duplicated vectors
  * and same-direction vectors give tied centroid scores (ties go to the
  * smaller cid), and a zero-norm query vector gives a zero divisor
  * (a null score, with or without ANSI). */
class IvfServeSpec extends SparkSpec {

  // 4-dim directions; (1,1,0,0) and (2,2,0,0) score alike against any query
  private val dirs = Seq(Seq(1f, 0f, 0f, 0f), Seq(0f, 1f, 0f, 0f), Seq(1f, 1f, 0f, 0f),
    Seq(2f, 2f, 0f, 0f), Seq(1f, -1f, 0f, 0f), Seq(0f, 0f, 1f, 0f), Seq(-1f, 0f, 0f, 0f),
    Seq(1f, 0f, 1f, 0f), Seq(0f, 1f, 1f, 0f))

  /** 400 vectors drawn from `dirs` (each one ~44 times), queries at
    * vec_id 0, 100, 200, 300 (directions 0 to 3); `special` ids carry
    * the vector given. */
  private def corpus(tag: String, special: Map[Long, Seq[Float]] = Map.empty): String = {
    import spark.implicits._
    val dir = Files.createTempDirectory(tag).toString
    (0L until 400L).map { i =>
      (i, special.getOrElse(i, dirs(((i * 7 + i / 9 + i / 100) % dirs.size).toInt)), (i % 3).toInt)
    }.toDF("vec_id", "embedding", "label").coalesce(1).write.parquet(s"$dir/embeddings.parquet")
    dir
  }

  private def money(x: Double) = math.floor(x * 10000 + 0.5) / 10000

  /** Each query's stored-centroid scores, best first (ccos DESC, cid ASC). */
  private def scores(dir: String, idx: String): Seq[Seq[(Double, Int)]] = {
    val cents = graft.engine.Fs.readParquet(spark, s"$idx/centroids")
      .select(col("cid"), col("centroid"), col("cnorm2")).collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1), r.getDouble(2)))
    Similarity.prepared(spark, dir).filter(col("vec_id") % 100 === 0)
      .select(col("v"), col("norm2")).collect().toSeq.map { q =>
        val (v, n2) = (q.getSeq[Double](0), q.getDouble(1))
        cents.toSeq.map { case (cid, c, cn2) =>
          (money(v.zip(c).foldLeft(0.0) { case (s, (x, y)) => s + x * y } / math.sqrt(n2 * cn2)), cid)
        }.sortBy { case (s, cid) => (-s, cid) }
      }
  }

  /** The query ids answered at each nprobe of 1, 2 and nClusters, once
    * the served rows equal knnIvf's. */
  private def servedEqualsLive(dir: String, idx: String, nClusters: Int,
      iters: Int): Map[Int, Seq[Long]] =
    Seq(1, 2, nClusters).map { nprobe =>
      val live = Similarity.knnIvf(spark, dir, k = 5, nprobe = nprobe, nClusters = nClusters,
        iters = iters).collect().toSeq
      val served = Similarity.knnIvfFromIndex(spark, dir, idx, k = 5, nprobe = nprobe)
        .collect().toSeq
      assert(served == live, s"nprobe $nprobe (nClusters $nClusters, iters $iters)")
      nprobe -> live.map(_.getLong(0)).distinct.sorted
    }.toMap

  test("served routing equals knnIvf row for row on tied centroid scores at nprobe 1, 2 and nClusters") {
    val dir = corpus("ivfserve_ties")
    for ((nClusters, iters) <- Seq((6, 0), (6, 2))) {
      val idx = Files.createTempDirectory("ivfserve_ties_idx").toString
      Similarity.buildIvfIndex(spark, dir, idx, nClusters, iters)
      // the spec only bites if a query's first probe is decided by a tie
      if (iters == 0)
        assert(scores(dir, idx).exists(s => s(0)._1 == s(1)._1), "no tie at the first probe")
      val answered = servedEqualsLive(dir, idx, nClusters, iters)
      assert(answered(nClusters) == Seq(0L, 100L, 200L, 300L))
    }
  }

  test("a zero-norm query vector scores null: under ANSI served == knnIvf == the ANSI-off answer") {
    val dir = corpus("ivfserve_zero", Map(200L -> Seq.fill(4)(0f)))
    val idx = Files.createTempDirectory("ivfserve_zero_idx").toString
    Similarity.buildIvfIndex(spark, dir, idx, 6, 2)
    // served == knnIvf at each nprobe, then knnIvf's rows and brute force's
    def answers(): (Map[Int, Seq[Long]], Seq[Seq[Row]]) =
      (servedEqualsLive(dir, idx, 6, 2),
        Seq(1, 2, 6).map(Similarity.knnIvf(spark, dir, 5, _, 6, 2).collect().toSeq) :+
          Similarity.knnBruteForce(spark, dir, 5).collect().toSeq)
    assert(spark.conf.get("spark.sql.ansi.enabled") == "true", "the session runs ANSI")
    val ansi = answers()
    // a null score routes nowhere and ranks nowhere: the zero query gets
    // no answer rows, and every other query still gets its neighbours
    assert(ansi._1.values.forall(_ == Seq(0L, 100L, 300L)), ansi._1)
    assert(ansi._2.last.map(_.getLong(0)).distinct.sorted == Seq(0L, 100L, 300L))
    val saved = spark.conf.getOption("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try assert(answers() == ansi)
    finally saved.fold(spark.conf.unset("spark.sql.ansi.enabled"))(
      spark.conf.set("spark.sql.ansi.enabled", _))
  }

  test("an infinite seed centroid scores money(NaN) = 0 in both routes, not a NaN that ranks first") {
    // the non-query id that seeds first (iters = 0 keeps the raw seeds)
    // gets an infinite component: every score against its centroid is
    // NaN before the money rounding, and every vector joins its list
    val seed = (0L until 400L).filter(_ % 100 != 0).minBy(i => (Fns.h64Literal(i.toString), i))
    val dir = corpus("ivfserve_inf", Map(seed -> Seq(Float.PositiveInfinity, 0f, 0f, 0f)))
    val idx = Files.createTempDirectory("ivfserve_inf_idx").toString
    Similarity.buildIvfIndex(spark, dir, idx, 6, 0)
    val answered = servedEqualsLive(dir, idx, 6, 0)
    // a query whose best finite score is above 0 probes an empty list at
    // nprobe 1; probing every list answers every query
    assert(answered(1).size < 4, answered)
    assert(answered(6) == Seq(0L, 100L, 200L, 300L))
  }
}
