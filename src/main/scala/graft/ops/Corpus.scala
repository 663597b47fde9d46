package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.text.Tokenize

/** Corpus-curation operators: the end-to-end shapes a training-data
  * pipeline runs over a web-scale document table, composed from the
  * lower-level dedup / text primitives. All three are deterministic and
  * DuckDB-oracle-gated (q28-q30).
  *
  * These are graft additions (the reference indexes documents, tagged.rs
  * has no curation layer); the designs are the standard large-corpus ones:
  * MinHash-dedup-then-keep-canonical, hash-threshold stratified
  * downsampling, and token-budget sharding via a distributed prefix sum.
  */
object Corpus {

  /** End-to-end near-duplicate removal: MinHash-LSH candidate pairs with
    * exact-Jaccard verification ([[Dedup.minhashDedup]]) -> connected
    * components ([[Dedup.clusters]]) -> keep each cluster's canonical
    * (minimum-id) member. Returns the kept rows of `docs`, all columns.
    *
    * Scale shape: the corpus itself is never shuffled — only the DROPPED
    * id set (cluster members that are not the canonical min, i.e. the
    * duplicates) flows into the final join, as the right side of a
    * `left_anti`. On real web corpora that side is a small fraction of the
    * input, so AQE plans it as a broadcast anti-join and the kept corpus
    * streams straight from the scan.
    */
  def deduplicate(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.9): DataFrame = {
    val pairs = Dedup.minhashDedup(docs, idCol, textCol, threshold = threshold)
    val reps = Dedup.clusters(docs.select(col(idCol)), idCol, pairs)
    val dropped = reps.where(col(idCol) =!= col("rep")).select(col(idCol))
    docs.join(dropped, Seq(idCol), "left_anti")
  }

  /** Deterministic per-stratum downsampling to ~`cap` rows per stratum
    * ("balance the language mix"): a row is kept iff
    * `hash(id, stratum) * count(stratum) < cap * 2^24`, where the hash is
    * the first 6 hex digits of `md5(id ':' stratum)` — uniform on
    * [0, 2^24), reproducible in any engine with md5. Strata with
    * `count <= cap` keep every row (hv < 2^24 makes the inequality
    * unconditional); larger strata keep a Binomial(count, cap/count)
    * sample whose expectation is exactly `cap`.
    *
    * Scale shape: this is the sort-free alternative to
    * `row_number() OVER (PARTITION BY stratum ORDER BY ...) <= cap`,
    * which at corpus scale funnels each stratum through one task (a
    * handful of languages = a handful of tasks doing all the work). Here
    * the per-stratum counts are a tiny aggregate joined back by broadcast,
    * and the keep decision is a stateless codegen'd filter — no
    * per-stratum sort, no skew, and membership is stable under corpus
    * growth *within* a stratum snapshot (the hash does not depend on other
    * rows; only the count factor does).
    *
    * The multiply is done in DECIMAL(38,0): at 100-TB scale a stratum
    * count can reach ~1e12, and 2^24 * 1e12 overflows a signed 64-bit
    * long (the DuckDB oracle widens to HUGEINT for the same reason).
    */
  def sampleBalanced(docs: DataFrame, idCol: String, stratumCol: String,
      cap: Long): DataFrame = {
    require(cap >= 0, s"cap must be >= 0, got $cap")
    val counts = docs.groupBy(col(stratumCol)).agg(count(lit(1)).as("__cnt"))
    val hv = conv(
      substring(md5(concat(col(idCol).cast("string"), lit(":"),
        col(stratumCol))), 1, 6), 16, 10).cast("decimal(38,0)")
    docs.join(broadcast(counts), Seq(stratumCol))
      .where(hv * col("__cnt") < lit(cap * 16777216L).cast("decimal(38,0)"))
      .select(col(idCol), col(stratumCol))
  }

  /** Token-budget corpus sharding: assign every document a shard id
    * `floor(tokens_before / budget)`, where `tokens_before` is the total
    * token count of all documents with a smaller id — i.e. pack the
    * id-ordered corpus greedily into ~`budget`-token shards (the
    * "split the corpus into ~equal training shards" step). Tokens are
    * counted with the engine's tokenizer ([[Tokenize.tokenizeScala]]);
    * null text counts 0 and still gets a shard. Returns (idCol, shard).
    *
    * Scale shape: a global cumulative sum, WITHOUT the naive
    * `Window.orderBy(id)` (empty partition spec = every row through ONE
    * task). Same pattern as the index build's docID assignment
    * (IndexBuilder.scala): range-partition by id, per-partition token
    * totals (one row per partition — a bounded driver fan-in) prefix-sum
    * into per-partition offsets, then a single narrow mapPartitions pass
    * carries `offset + running` through each sorted partition. Two jobs
    * over a cached (id, tok) projection; the documents table is read once.
    * Range boundaries come from sampling, but ANY boundary choice yields
    * the same global result — the cumsum is over the global id order,
    * which partition-local sort + monotone ranges preserve.
    */
  def packShards(docs: DataFrame, idCol: String, textCol: String,
      budget: Long, partitions: Int = 0,
      stagingDir: Option[String] = None): DataFrame = {
    require(budget >= 1, s"budget must be >= 1, got $budget")
    val spark = docs.sparkSession
    import spark.implicits._
    val nTok = udf { (s: String) =>
      if (s == null) 0L else Tokenize.tokenizeScala(s).length.toLong
    }
    val p =
      if (partitions > 0) partitions
      else spark.sessionState.conf.numShufflePartitions
    val base = docs
      .select(col(idCol).cast("long").as("id"), nTok(col(textCol)).as("tok"))
      .repartitionByRange(p, col("id"))
      .sortWithinPartitions("id")
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val nParts = base.rdd.getNumPartitions
      // one row per partition: bounded O(partitions) driver fan-in
      val perPart = base.groupBy(spark_partition_id().as("pid"))
        .agg(sum("tok").as("t"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      val offsets: Array[Long] =
        (0 until nParts).map(i => perPart.getOrElse(i, 0L))
          .scanLeft(0L)(_ + _).toArray // offsets(i) = tokens before part i
      val out = base.as[(Long, Long)].mapPartitions { it =>
        var acc = offsets(org.apache.spark.TaskContext.getPartitionId())
        it.map { case (id, tok) =>
          val shard = acc / budget
          acc += tok
          (id, shard)
        }
      }.toDF(idCol, "shard")
      // Materialize while `base` is still cached: `offsets` was computed
      // against base's CURRENT range boundaries, and an uncached
      // recomputation would re-sample new ones — a lazy result would pair
      // stale offsets with fresh partitions. Same staged-table shape as
      // Dedup.materializeAndRelease.
      graft.util.Staging.scoped(spark, stagingDir) { st =>
        val tmp = st.result("corpus")
        out.write.mode("overwrite").parquet(tmp)
        spark.read.parquet(tmp)
      }
    } finally base.unpersist()
  }
}
