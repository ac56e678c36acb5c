package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Fns
import graft.dedup.Dedup
import graft.engine.{Dag, Manifest}
import graft.sim.Similarity
import graft.text.TextAnalysis

/** One workload over the inputs the generator wrote. Set-up is `prepare`
  * and `warmup`; the timed window runs closed-loop cycles of one `write`
  * followed by `readsPerCycle` reads, each sent after the previous one
  * returned. A cycle's reads are the generated request sequence. */
trait Workload {
  def prepare(): Unit
  def warmup(): Unit
  /** Forget what set-up and warm-up counted, before the timed window. */
  def startWindow(): Unit
  def write(): Unit
  def read(i: Int): Unit
  def readsPerCycle: Int
  /** "read" for a read the read_s metrics time; another kind is timed on
    * its own. */
  def readKind(i: Int): String = "read"
  /** Input bytes the window's writes consumed, and bytes they added. */
  def inputBytes: Long
  def bytesWritten: Long
  /** What the post-run oracle check needs. */
  def finish(): Map[String, Any]
  /** Operations found wrong inside the JVM; the oracle check adds the rest. */
  def wrong: Long
  def counters: Map[String, Double]
}

object Workload {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  /** `requests.json` of a generated input directory. */
  def requests(inputs: String): Map[String, Any] =
    mapper.readValue(Paths.get(inputs, "requests.json").toFile, classOf[Map[String, Any]])
}

/** A dashboard request: one aggregate over a published Manifest table,
  * answered with (row count, money-rounded sum). Filters are plain SQL
  * that Spark and DuckDB read alike, so the oracle check can replay them. */
final case class DashReq(table: String, filter: String, measure: String)

object Dashboard {
  def answer(spark: SparkSession, out: String, q: DashReq): (Long, Option[Double]) = {
    val path = s"$out/${q.table}"
    val t = q.filter match {
      case f if f.startsWith("order_month = ") =>
        val m = f.stripPrefix("order_month = ").toInt
        Manifest.readWhere(spark, path, "order_month", Some(m), Some(m))
      case f => Manifest.read(spark, path).where(f)
    }
    val row = t.agg(count(lit(1)), Fns.money(Fns.sumMoney(col(q.measure)))).head()
    (row.getLong(0), if (row.isNullAt(1)) None else Some(row.getDouble(1)))
  }

  /** Data files the current snapshot of the Manifest table at `path` references. */
  def files(spark: SparkSession, path: String): Int =
    Manifest.state(spark, path).map(_.entries.map { e =>
      Disk.listing(Paths.get(path, e.dir, e.part)).keys.count(_.endsWith(".parquet"))
    }.sum).getOrElse(0)
}

/** `medallion_incremental`: set-up full-loads the generated base
  * snapshot through the DAG from empty checkpoints; each write lands one
  * delta batch in the source tables and re-runs the same DAG from the
  * checkpoints the previous run left; each read is a dashboard query
  * against the published gold and mart tables. */
final class Incremental(spark: SparkSession, trace: Trace, inputs: String, root: String,
    parallelism: Int) extends Workload {
  private def src = s"$inputs/source"
  private def out = s"$root/lake"
  private var landed = 0
  private var written = 0L
  private var input = 0L
  private var lastReads = Vector.empty[Map[String, Any]]
  private val dash: Seq[DashReq] = Workload.requests(inputs)("dashboard").asInstanceOf[Seq[Map[String, String]]]
    .map(q => DashReq(q("table"), q("filter"), q("measure")))
  val readsPerCycle: Int = dash.size
  def wrong = 0L
  def counters: Map[String, Double] = Map.empty

  private def dag(batch: Int): Dag.Report = {
    val day = f"2024-01-${batch + 2}%02d"
    new Medallion(spark, trace, src, out, parallelism).run(day, day)
  }

  /** The full load of the base snapshot from empty checkpoints. */
  def prepare(): Unit = dag(-1)

  /** The full load ran the DAG's code paths; a few reads warm the
    * dashboard path. */
  def warmup(): Unit = (0 until 4).foreach(read)

  def startWindow(): Unit = { written = 0; input = 0 }

  /** Move batch `landed`'s files into the source tables; their bytes. */
  private def land(): Long = {
    val b = landed
    require(Files.exists(Paths.get(s"$inputs/deltas/orders/batch=$b")),
      s"all $b generated delta batches are used")
    landed += 1
    Medallion.tables.map { t =>
      Disk.children(Paths.get(s"$inputs/deltas/$t/batch=$b"))
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .map { f =>
          val n = Files.size(f)
          Files.move(f, Paths.get(s"$src/$t.parquet/batch$b-${f.getFileName}"))
          n
        }.sum
    }.sum
  }

  def write(): Unit = {
    val before = Disk.listing(Paths.get(out))
    val b = landed
    input += trace.span("glue", "land")(land())
    dag(b)
    written += Disk.added(Paths.get(out), before).values.sum
  }

  def read(i: Int): Unit = {
    val q = dash(i % dash.size)
    val (n, sum) = trace.span("manifest", "dashboard") {
      val r = Dashboard.answer(spark, out, q)
      if (trace.enabled) {
        val read = trace.current
        trace.span("probe", "manifest.files_read") {
          trace.annotate(read, "files_read", Dashboard.files(spark, s"$out/${q.table}"))
        }
      }
      r
    }
    if (i % readsPerCycle == 0) lastReads = Vector.empty
    lastReads :+= Map("table" -> q.table, "filter" -> q.filter, "measure" -> q.measure,
      "count" -> n, "sum" -> sum.orNull)
  }

  def inputBytes: Long = input
  def bytesWritten: Long = written

  /** The oracle check reads the published snapshots; `lastReads` were
    * answered after the last write, so they replay over them. */
  def finish(): Map[String, Any] =
    Map("kind" -> "medallion", "lake" -> out, "reads" -> lastReads,
      "source" -> src, "oracles" -> Oracles.medallion)
}

/** `corpus_curation`: each write curates a salted shard copied to a fresh
  * path, so every `engine.Derived` memo misses (exact, MinHash,
  * containment and embedding dedup, the quality and language gates, as
  * one Dag); reads are kNN lookups against an IVF index and a memoized
  * served IVF index, both built in set-up, so those memos hit. */
final class Curation(spark: SparkSession, trace: Trace, inputs: String, root: String,
    parallelism: Int) extends Workload {
  private var servedFirst: Seq[(Long, Long)] = Nil
  private var written = 0L
  private var input = 0L
  private var passes = Vector.empty[Map[String, Any]]
  private var passCount = 0
  private var answers = Vector.empty[Seq[(Long, Long)]]
  private var recall = 0.0
  private var bad = 0L
  private var derivedBuilds = 0L
  private var derivedBytes = 0L
  private var queriesServed = 0L
  private val k = 10
  private val nprobe = 3
  private def corpus = s"$inputs/corpus"
  private def index = s"$root/ivf_index"
  private val shards = Disk.children(Paths.get(inputs)).map(_.getFileName.toString)
    .filter(_.startsWith("shard-")).sorted
  private val reqs: Seq[Seq[Long]] = Workload.requests(inputs)("knn").asInstanceOf[Seq[Seq[Any]]]
    .map(_.map(_.toString.toLong))
  /** The generated kNN requests, then one served read. */
  val readsPerCycle: Int = reqs.size + 1

  private def pairs(df: DataFrame): Seq[(Long, Long)] =
    df.select(col("query_id"), col("neighbor_id")).collect().toSeq.map(r => (r.getLong(0), r.getLong(1)))

  /** Builds the IVF index and the memoized served index (whose k-means
    * fit the fit registry already holds). The exact answers the reads are
    * scored against are the check's work, done after the window. */
  def prepare(): Unit = {
    trace.span("similarity", "build_ivf_index")(Similarity.buildIvfIndex(spark, corpus, index))
    servedFirst = trace.span("similarity", "build_served_index") {
      pairs(Similarity.knnIvfServed(spark, corpus, k = k, nprobe = nprobe))
    }
  }

  /** Set-up ran every kNN path (the served build serves through the
    * index-read path), so one lookup warms the reads; a curation pass in
    * the window runs in a JVM that has not curated yet, as a scheduled
    * curation job does. */
  def warmup(): Unit = read(0)

  def startWindow(): Unit = {
    written = 0; input = 0; passes = Vector.empty
    derivedBuilds = 0; derivedBytes = 0; queriesServed = 0
    answers = Vector.empty
  }

  private val outputs: Seq[(String, String, String => DataFrame)] = Seq(
    ("dedup_exact", "dedup", d => Dedup.exact(spark, d)),
    ("dedup_minhash", "dedup", d => Dedup.minhashPairs(spark, d)),
    ("dedup_containment", "dedup", d => Dedup.containmentPairs(spark, d)),
    ("dedup_embedding", "dedup", d => Dedup.embeddingPairs(spark, d)),
    ("text_quality", "text", d => TextAnalysis.quality(spark, d)),
    ("lang_id", "text", d => TextAnalysis.langId(spark, d)))

  def write(): Unit = {
    val n = passCount
    passCount += 1
    // a fresh path per pass, so the engine's path-keyed memos miss
    val shard = s"$root/shard-pass-$n"
    Disk.copyTree(Paths.get(inputs, shards(n % shards.size)), Paths.get(shard))
    val out = s"$root/curated-$n"
    val tmp = System.getProperty("java.io.tmpdir")
    val before = Disk.listing(Paths.get(tmp))
    trace.span("dag", "curation") {
      val dagSpan = trace.current
      Dag.run(outputs.map { case (name, layer, op) =>
        Dag.Task(name, Nil, () => trace.span("glue", name, parent = dagSpan, attrs = Map("wave" -> 0.0)) {
          trace.span(layer, name)(op(shard).write.parquet(s"$out/$name"))
        })
      }, parallelism)
    }
    // Derived memo builds, counted from outside the engine: the scratch
    // directories this pass added under java.io.tmpdir
    val scratch = Disk.added(Paths.get(tmp), before)
    derivedBytes += scratch.values.sum
    derivedBuilds += scratch.keys.map(f => Paths.get(tmp).relativize(Paths.get(f)).getName(0).toString)
      .toSet.count(_.startsWith("graft_derived_"))
    written += Disk.listing(Paths.get(out)).values.sum + scratch.values.sum
    input += Disk.listing(Paths.get(shard)).values.sum
    passes :+= Map("shard" -> shard, "out" -> out)
  }

  /** Reads probe the IVF index for one request's query vectors; the last
    * read of each cycle asks the memoized served index for the corpus's
    * whole query set. */
  override def readKind(i: Int): String = if (i % readsPerCycle == reqs.size) "serve" else "read"

  def read(i: Int): Unit = {
    val got =
      if (readKind(i) == "serve") {
        val got = trace.span("similarity", "knn_ivf_served") {
          pairs(Similarity.knnIvfServed(spark, corpus, k = k, nprobe = nprobe))
        }
        // a memo hit must serve exactly what the set-up build served
        if (got != servedFirst) bad += 1
        got
      } else {
        val r = i % readsPerCycle
        val got = trace.span("similarity", "knn_ivf") {
          pairs(Similarity.knnIvfFromIndex(spark, s"$inputs/knn/r-$r", index, k = k, nprobe = nprobe))
        }
        if (got.map(_._1).distinct.sorted != reqs(r)) bad += 1
        got
      }
    answers :+= got
  }

  /** Scores every window answer against the exact answers: each query
    * needs k neighbours and the answer a recall@k of at least the floor. */
  private def score(): Unit = {
    val truth = pairs(Similarity.knnBruteForce(spark, corpus, k = k))
      .groupBy(_._1).map { case (q, ns) => q -> ns.map(_._2).toSet }
    var hits = 0L; var wanted = 0L
    for (got <- answers) {
      var hit = 0L; var want = 0L
      for ((q, ns) <- got.groupBy(_._1)) {
        val t = truth(q)
        if (ns.size != t.size) bad += 1
        hit += ns.map(_._2).toSet.intersect(t).size
        want += t.size
        queriesServed += 1
      }
      if (hit.toDouble / math.max(1L, want) < Curation.recallFloor) bad += 1
      hits += hit; wanted += want
    }
    recall = hits.toDouble / math.max(1L, wanted)
  }

  def inputBytes: Long = input
  def bytesWritten: Long = written
  def wrong: Long = bad

  def counters: Map[String, Double] =
    Map("recall_at_10" -> recall,
      "queries_served" -> queriesServed.toDouble,
      "derived_builds" -> derivedBuilds.toDouble, "derived_bytes" -> derivedBytes.toDouble)

  def finish(): Map[String, Any] = {
    score()
    Map("kind" -> "curation", "passes" -> passes, "oracles" -> Oracles.curation)
  }
}

object Curation {
  /** IVF ranks exactly inside the probed lists; with 3 of 10 lists probed
    * on 10-cluster data an answer below this recall is wrong. */
  val recallFloor = 0.9
}

/** Oracle SQL for the post-run check, taken from the engine's own
  * DuckDB oracle table. */
object Oracles {
  private def pick(names: String*): Map[String, String] =
    names.map(n => n -> graft.SparkEntry.oracleSql(n)).toMap

  def medallion: Map[String, String] =
    pick("fact_sales", "dim_customer", "sales_summary", "sales_summary_calendar",
      "top_products", "product_enriched", "xml_shred") +
      ("dim_date" -> graft.engine.DimDate.oracleSql(Medallion.calendarStart, Medallion.calendarDays))

  def curation: Map[String, String] =
    pick("dedup_exact", "dedup_minhash", "dedup_containment", "dedup_embedding",
      "text_quality", "lang_id")
}
