package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.engine.Fs

/** Distributed byte-pair-encoding (BPE) merge training over the
  * `documents` corpus — the tokenizer-vocabulary learning step of an LLM
  * data pipeline (Sennrich et al. 2016, "Neural Machine Translation of
  * Rare Words with Subword Units").
  *
  * The classic trainer is sequential; the distributed shape here is the
  * standard one:
  *  1. ONE corpus pass collapses documents to a WORD-COUNT relation
  *     (vocabulary-scale, not corpus-scale — every later step works on
  *     unique words weighted by frequency).
  *  2. Each merge round is one hash aggregation: adjacent symbol pairs,
  *     exploded per unique word and weighted by its count, grouped and
  *     summed. The argmax pair is O(1) driver state (like the k-means
  *     centroids), broadcast back as two literals.
  *  3. The remap is a per-row left-to-right greedy fold (`aggregate` HOF,
  *     whole-stage codegen — no UDF): merge every adjacent (left, right)
  *     occurrence. Words stay distributed; the per-round relation is
  *     `localCheckpoint`ed so plan depth stays O(1) across rounds, the
  *     same discipline as the connected-components loop.
  *
  * Determinism: counts are integers; the argmax tie-break is total
  * (count desc, then left asc, right asc), so the merge sequence is a
  * pure function of the corpus on any partitioning/cluster size.
  *
  * Tokenization: lowercase, maximal `[a-z]+` runs (matching the
  * `vocab_top_terms` convention); symbols start as single characters, no
  * end-of-word marker (merges never cross word boundaries regardless).
  */
object Bpe {

  /** `(word, cnt, syms)` — unique lowercase words with corpus frequency
    * and their initial single-character symbol arrays. */
  private[text] def wordCounts(docs: DataFrame): DataFrame =
    docs
      .select(explode(split(lower(col("text")), "[^a-z]+")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .withColumn("syms",
        expr("filter(split(word, ''), x -> x != '')"))

  /** Adjacent-pair frequencies of the current symbolization:
    * `(left, right, pair_count)`. */
  private[text] def pairCounts(words: DataFrame): DataFrame =
    words
      .select(col("cnt"), explode(
        expr("zip_with(slice(syms, 1, size(syms) - 1), " +
          "slice(syms, 2, size(syms) - 1), (a, b) -> struct(a, b))")).as("p"))
      .groupBy(col("p.a").as("left"), col("p.b").as("right"))
      .agg(sum(col("cnt")).as("pair_count"))

  /** Greedy left-to-right merge of every adjacent `(l, r)` occurrence in
    * a symbol array — the HOF fold form of the trainer's remap step. A
    * just-merged token never re-merges in the same round (`l+r != l`),
    * exactly the sequential semantics. */
  private def mergeExpr(l: String, r: String): org.apache.spark.sql.Column = {
    val lq = lit(l)
    val rq = lit(r)
    aggregate(
      col("syms"),
      array().cast("array<string>"),
      (acc, x) =>
        when(size(acc) > 0 && element_at(acc, -1) === lq && x === rq,
          concat(slice(acc, lit(1), size(acc) - 1), array(concat(lq, rq))))
          .otherwise(concat(acc, array(x))))
  }

  /** The training loop: `k` rounds of (pair-count agg → O(1) argmax on
    * the driver → broadcast literal remap). Returns the merge sequence and
    * the final symbolized word relation. */
  private def trainCore(spark: SparkSession, dir: String,
      k: Int): (Seq[(Int, String, String, Long)], DataFrame) = {
    var words = wordCounts(Tables.documents(spark, dir)).localCheckpoint(true)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var round = 1
    while (round <= k) {
      val top = pairCounts(words)
        .orderBy(col("pair_count").desc, col("left"), col("right"))
        .limit(1).collect()
      if (top.isEmpty) { round = k + 1 } // corpus exhausted (all words fused)
      else {
        val (l, r, c) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((round, l, r, c))
        words = words
          .withColumn("syms", mergeExpr(l, r))
          .localCheckpoint(true)
        round += 1
      }
    }
    (merges.toSeq, words)
  }

  /** [[trainCore]] through the derived-relation store: the trainer is a
    * pure deterministic function of (dir, k) consumed by BOTH query
    * surfaces (`bpe_merges` reads the merge sequence, `bpe_segment` the
    * final symbolization) — a production pipeline trains the tokenizer
    * once and persists the vocabulary; the k driver rounds run once per
    * JVM and both relations read back. Strings/longs round-trip parquet
    * exactly. */
  private def trainedStore(spark: SparkSession, dir: String, k: Int): String =
    graft.engine.Derived.store(spark, s"bpe_k$k", dir) { out =>
      import spark.implicits._
      val (merges, words) = trainCore(spark, dir, k)
      merges.toDF("merge_rank", "left", "right", "pair_count")
        .coalesce(1).write.mode("overwrite").parquet(s"$out/merges")
      words.write.mode("overwrite").parquet(s"$out/words")
    }

  /** Learn `k` BPE merges; returns `(merge_rank, left, right, pair_count)`
    * in learned order. */
  def trainMerges(spark: SparkSession, dir: String, k: Int = 10): DataFrame =
    Fs.readParquet(spark, s"${trainedStore(spark, dir, k)}/merges")
      .orderBy(col("merge_rank"))

  /** DuckDB oracle for [[trainMerges]]: the training loop UNROLLED as a
    * generated CTE chain, `k` rounds of (pair-count → `LIMIT 1` argmax →
    * greedy remap), fully independent of the Spark implementation.
    *
    * The only non-obvious part is replaying the greedy left-to-right fold
    * relationally: a position merges iff it starts an ODD-indexed match in
    * a maximal run of consecutive pattern matches (overlapping matches
    * only arise for `l == r` runs, where greedy takes the 1st, 3rd, …).
    * That is a gaps-and-islands window (`pos - row_number` island id,
    * then within-island index parity), after which consumed positions
    * (`gprev`) are dropped and merged positions emit `l || r`. Verified
    * shape: `'aaaa' → [aa, aa]`, `'aaa' → [aa, a]` — identical to the
    * sequential trainer and the HOF fold in [[mergeExpr]]. */
  def oracleSql(k: Int = 10): String =
    s"""
      WITH ${chainSql(k)}
      ${(1 to k).map(i =>
        s"""SELECT $i AS merge_rank, l AS "left", r AS "right", CAST(c AS BIGINT) AS pair_count FROM b$i""")
        .mkString("\n      UNION ALL ")}
      ORDER BY merge_rank
    """

  /** Oracle for [[segmentedVocab]]: the same unrolled chain, selecting
    * the final symbolization instead of the merge sequence. */
  def segmentOracleSql(k: Int = 10): String =
    s"""
      WITH ${chainSql(k)}
      SELECT word, cnt, array_to_string(syms, ' ') AS segmentation
      FROM w$k ORDER BY cnt DESC, word
    """

  private def chainSql(k: Int): String = {
    def round(i: Int): String = {
      val prev = if (i == 1) "ws0" else s"w${i - 1}"
      s"""u$i AS MATERIALIZED (
      SELECT word, cnt, unnest(syms) AS sym,
             unnest(range(1, len(syms) + 1)) AS pos
      FROM $prev),
    q$i AS MATERIALIZED (
      SELECT word, cnt, sym, pos,
             lead(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt
      FROM u$i),
    c$i AS MATERIALIZED (
      SELECT sym AS l, nxt AS r, sum(cnt) AS c
      FROM q$i WHERE nxt IS NOT NULL GROUP BY 1, 2),
    b$i AS MATERIALIZED (SELECT l, r, c FROM c$i ORDER BY c DESC, l, r LIMIT 1),
    m$i AS MATERIALIZED (
      SELECT word, cnt, sym, pos, nxt,
             coalesce(sym = (SELECT l FROM b$i) AND nxt = (SELECT r FROM b$i), false) AS m
      FROM q$i),
    i$i AS MATERIALIZED (
      SELECT *, pos - row_number() OVER (PARTITION BY word, m ORDER BY pos) AS isl
      FROM m$i),
    g$i AS MATERIALIZED (
      SELECT *, m AND (row_number() OVER (PARTITION BY word, m, isl ORDER BY pos) % 2 = 1) AS g
      FROM i$i),
    h$i AS MATERIALIZED (
      SELECT *, coalesce(lag(g) OVER (PARTITION BY word ORDER BY pos), false) AS gprev
      FROM g$i),
    w$i AS MATERIALIZED (
      SELECT word, cnt,
             list(CASE WHEN g THEN sym || (SELECT r FROM b$i) ELSE sym END ORDER BY pos) AS syms
      FROM h$i WHERE NOT gprev GROUP BY word, cnt)"""
    }
    val rounds = (1 to k).map(round).mkString(",\n    ")
    s"""w0 AS MATERIALIZED (
        SELECT word, count(*) AS cnt FROM (
          SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS word FROM documents)
        WHERE word <> '' GROUP BY 1),
      ws0 AS MATERIALIZED (SELECT word, cnt, regexp_extract_all(word, '.') AS syms FROM w0),
      $rounds"""
  }

  /** The learned symbolization after [[trainMerges]]' rounds — one row per
    * unique word with its final subword segmentation (for inspection and
    * the encode step of a downstream tokenizer). */
  def segmentedVocab(spark: SparkSession, dir: String, k: Int = 10): DataFrame =
    Fs.readParquet(spark, s"${trainedStore(spark, dir, k)}/words")
      .select(col("word"), col("cnt"),
        array_join(col("syms"), " ").as("segmentation"))
      .orderBy(col("cnt").desc, col("word"))
}
