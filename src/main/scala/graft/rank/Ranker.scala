package graft.rank

import graft.text.{BudgetParser, TextOps}
import graft.vector.VectorOps
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import scala.jdk.CollectionConverters._

/** The reference's recommendation query re-expressed as one declarative
  * Spark plan (reference: semantic.py:33-52 + rank.py:208-337):
  *
  *   cosine scan → top-K (TakeOrderedAndProject) → broadcast join meta →
  *   window-scoped candidate stats → feature + blend projection →
  *   [collect ≤K rows] → greedy MMR → price-presence partition.
  *
  * Everything before the MMR collect is one lazy plan with no cache. The
  * top-K is a per-partition heap + one-partition merge, and every
  * candidate statistic (price median/σ, p1/p99 of popularity and rerank)
  * is an aggregate over the unpartitioned window of those ≤K rows, which
  * are already in one partition: no exchange, no second scan. The only
  * driver materialization is the ≤topK candidate set — the reference's
  * own collect boundary — and a request leaves no cached state behind.
  */
object Ranker {
  final case class Config(
      topK: Int = 200, // rank.py:210
      finalK: Int = 10, // rank.py:211
      lambda: Double = Features.MmrLambda,
      roundScale: Int = 6)

  /** Lexical reranker substitute (SURVEY §2.9): distinct-token overlap of
    * the query against title+summary. Deterministic, monotone in shared
    * vocabulary — feeds the same min-max normalization the cross-encoder
    * scores feed in the reference (rank.py:219-220).
    */
  def lexicalRerank(queryTokens: Seq[String], title: Column, summary: Column): Column = {
    val docText = TextOps.cleanText(
      concat_ws(" ", coalesce(title, lit("")), coalesce(summary, lit(""))))
    TextOps.vocabHits(TextOps.tokens(docText), queryTokens.distinct).cast("double")
  }

  /** Scored candidate frame: columns (id, sim, score, price, vec) — the
    * full pipeline up to (but excluding) MMR. `embeddings` must expose
    * (id: bigint, vec: array<double>); `meta` must expose (id, title,
    * summary, rating, review_count, price).
    */
  def scoreCandidates(
      embeddings: DataFrame,
      meta: DataFrame,
      queryText: String,
      queryVec: Array[Double],
      cfg: Config = Config()): DataFrame = {
    val qTokens = queryText.toLowerCase.split("\\s+").toSeq
    val qVec = typedLit(queryVec)

    // similarity scan + top-K: per-partition heap, no global sort shuffle
    val sim = round(VectorOps.cosine(col("vec"), qVec), cfg.roundScale)
    val top = embeddings
      .withColumn("sim", sim)
      .orderBy(desc("sim"), asc("id"))
      .limit(cfg.topK)

    // Candidate stats over exactly the top-K set, as window aggregates:
    // price median/σ over non-null prices (rank.py:225-232) and the
    // p1/p99 clip bounds of popularity and rerank (rank.py:44-54).
    val all = Window.partitionBy()
    def pct(c: String, p: Double) = percentile(col(c), lit(p)).over(all)
    val cands = top.join(broadcast(meta), Seq("id"), "left")
      .withColumn("rerank", lexicalRerank(qTokens, col("title"), col("summary")))
      .withColumn("pop", Features.popularity(col("review_count")))
      .withColumn("budget", BudgetParser.parseBudget(lit(queryText)))
      .select(col("*"),
        median(col("price")).over(all).as("price_median"),
        stddev_pop(col("price")).over(all).as("price_std"),
        pct("pop", 0.01).as("pop_lo"), pct("pop", 0.99).as("pop_hi"),
        pct("rerank", 0.01).as("rerank_lo"), pct("rerank", 0.99).as("rerank_hi"))

    // the budget anchor wins when truthy, else the candidates' median;
    // a column, so the anchor's many uses share one parsed budget
    val budget = col("budget")
    val anchor = when(budget.isNotNull && budget =!= 0.0, budget)
      .otherwise(col("price_median"))
    val score = Features.blend(col("sim"),
      Features.bayesianRating(col("rating"), col("review_count")) / Features.MaxStarRating,
      Features.clipScale(col("pop"), col("pop_lo"), col("pop_hi")),
      Features.priceFit(col("price"), anchor, col("price_std")),
      Features.clipScale(col("rerank"), col("rerank_lo"), col("rerank_hi")))
    cands.select(col("id"), col("sim"), round(score, cfg.roundScale).as("score"),
      col("price"), col("vec"))
  }

  /** λ=1 degenerate ranking (MMR reduces to plain score order): fully
    * declarative, no collect — this is the oracle-checkable flagship.
    * Output: (id, score, pos, has_price) in final display order
    * (with-price block first, original rank order within each block —
    * rank.py:327-337).
    */
  def recommendTopKPlan(
      embeddings: DataFrame,
      meta: DataFrame,
      queryText: String,
      queryVec: Array[Double],
      cfg: Config = Config()): DataFrame = {
    val scored = scoreCandidates(embeddings, meta, queryText, queryVec, cfg)
    val top = scored.orderBy(desc("score"), asc("id")).limit(cfg.finalK)
      .withColumn("pos",
        row_number().over(Window.orderBy(desc("score"), asc("id"))).cast("long"))
    top.select(col("id"), col("score"), col("pos"),
        col("price").isNotNull.as("has_price"))
      .orderBy(col("has_price").desc, col("pos").asc)
  }

  private val Recommended =
    StructType.fromDDL("id BIGINT, score DOUBLE, mmr_pos BIGINT, has_price BOOLEAN")

  /** Full MMR ranking: collects the scored top-K (the reference's own
    * driver boundary), runs greedy MMR, reapplies the stable
    * price-presence partition on the ≤finalK picks. Output: (id, score,
    * mmr_pos, has_price) in display order, as a local relation — reading
    * it back runs no Spark job.
    */
  def recommend(
      spark: SparkSession,
      embeddings: DataFrame,
      meta: DataFrame,
      queryText: String,
      queryVec: Array[Double],
      cfg: Config = Config()): DataFrame = {
    val scored = scoreCandidates(embeddings, meta, queryText, queryVec, cfg)
    val rows = scored.select("id", "score", "vec", "price").collect()
    val cands = rows.map { r =>
      MMR.Candidate(r.getLong(0), r.getDouble(1),
        r.getSeq[Double](2).toArray)
    }
    val hasPrice = rows.map(r => r.getLong(0) -> !r.isNullAt(3)).toMap
    val picked = MMR.select(cands.toSeq, cfg.finalK, cfg.lambda)
    val out = picked.zipWithIndex.map { case (c, i) =>
      Row(c.id, c.score, (i + 1).toLong, hasPrice(c.id))
    }.sortBy(!_.getBoolean(3)) // stable: with-price block first
    spark.createDataFrame(out.asJava, Recommended)
  }
}
