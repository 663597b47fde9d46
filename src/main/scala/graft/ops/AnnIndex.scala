package graft.ops

import graft.functions.VectorFunctions.cosine_sim
import graft.index.ParamsIO
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted random-hyperplane LSH index for approximate-nearest-neighbor
  * search — the scale path for repeated ANN queries.
  *
  * Build time: every vector is sign-hashed into `tables` independent hash
  * tables of `planes` hyperplanes each, and the (table, bucket) replicas
  * are written as a parquet layout partitioned BY (tbl, bucket). The bucket
  * is the physical partition key, so a query touches exactly its `tables`
  * colliding partitions: Spark partition pruning eliminates the rest of the
  * corpus from the scan — no per-query re-hash, no full-table read. (The
  * round-1 `Similarity.lshTopK` recomputed buckets over the whole table per
  * query, which prunes dot products but not I/O; this layout fixes that.)
  * Storage cost is the standard LSH trade: `tables`x replication of the
  * vectors, each partition independently prunable.
  *
  * Hyperplanes are derived deterministically from (seed, table, plane, dim)
  * — every executor and every later session rebuilds identical planes from
  * the persisted params sidecar, with no broadcast of random state.
  */
object AnnIndex {

  final case class Params(dim: Int, tables: Int, planes: Int, seed: Long)

  private def dataPath(dir: String) = s"$dir/vectors"
  private def paramsPath(dir: String) = s"$dir/ann_params.json"

  def readParams(spark: SparkSession, dir: String): Params = {
    val f = ParamsIO.read(spark, paramsPath(dir))
    Params(f("dim").toInt, f("tables").toInt, f("planes").toInt, f("seed"))
  }

  /** Build the index under `dir` from (idCol LONG, vecCol ARRAY<FLOAT>). */
  def build(df: DataFrame, idCol: String, vecCol: String, dir: String,
      dim: Int, tables: Int = 16, planes: Int = 4, seed: Long = 42L,
      splitsPerBucket: Int = 4): Unit = {
    require(splitsPerBucket >= 1)
    val spark = df.sparkSession
    val buckets = Similarity.signBuckets(col(vecCol), tables, planes, seed, dim)
    df.select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"),
        posexplode(buckets).as(Seq("tbl", "bucket")))
      // co-locate each (tbl, bucket) before the partitioned write: without
      // this every input split would write a file into every bucket dir
      // (splits x tables x 2^planes tiny files). The intra-bucket split key
      // caps the other extreme: a HOT bucket (skewed vector distribution
      // hashing many rows to one sign pattern) would otherwise funnel into
      // one writer task; pmod(hash(id), splitsPerBucket) spreads it across
      // up to splitsPerBucket writers/files, bounding both task skew and
      // per-file size at a worst-case cost of splitsPerBucket files per
      // bucket dir.
      .repartition(col("tbl"), col("bucket"),
        pmod(hash(col("id")), lit(splitsPerBucket)))
      .write.mode("overwrite").partitionBy("tbl", "bucket")
      .parquet(dataPath(dir))
    ParamsIO.write(spark, paramsPath(dir), Params(dim, tables, planes, seed))
  }

  /** Bucket ids within hamming distance <= radius of `bucket` over
    * `planes` bits — standard multi-probe LSH (probe the neighboring sign
    * patterns too: a near neighbor that lands one flipped hyperplane away
    * is recovered without another table). Probe count per table is
    * sum_{i<=radius} C(planes, i) — tiny next to the partition count
    * 2^planes at production plane counts.
    */
  private[ops] def probeSet(bucket: Int, planes: Int, radius: Int): Seq[Int] = {
    def flips(bits: List[Int], left: Int): Seq[Int] = bits match {
      case _ if left == 0 => Seq(0)
      case Nil => Seq(0)
      case b :: rest => flips(rest, left) ++ flips(rest, left - 1).map(_ | (1 << b))
    }
    flips((0 until planes).toList, radius).distinct.map(_ ^ bucket)
  }

  /** The pruned candidate scan for `queryVec`: rows of the partitions the
    * query (multi-)probes into — `tables` x probeSet partitions of the
    * 'tables' x 2^planes total — deduplicated by id. Exposed separately so
    * tests can assert the partition pruning on the plan.
    */
  def candidates(spark: SparkSession, dir: String, queryVec: Array[Float],
      probeRadius: Int = 1): DataFrame = {
    val p = readParams(spark, dir)
    val mat = Similarity.planeMatrix(p.seed, p.tables, p.planes, p.dim)
    val qv = queryVec.toIndexedSeq
    val pred = (0 until p.tables)
      .map { t =>
        val probes = probeSet(Similarity.bucketOf(qv, mat(t)), p.planes, probeRadius)
        col("tbl") === lit(t) && col("bucket").isin(probes: _*)
      }
      .reduce(_ || _)
    spark.read.parquet(dataPath(dir))
      .where(pred)
      .dropDuplicates("id")
      .select(col("id"), col("vec"))
  }

  /** Exact cosine top-k over the LSH candidate set. */
  def topK(spark: SparkSession, dir: String, queryVec: Array[Float], k: Int,
      excludeId: Option[Long] = None, probeRadius: Int = 1): DataFrame = {
    val base = excludeId.foldLeft(candidates(spark, dir, queryVec, probeRadius)) {
      (d, e) => d.where(col("id") =!= e)
    }
    base.select(col("id"), cosine_sim(col("vec"), typedLit(queryVec.toSeq)).as("cos"))
      .orderBy(col("cos").desc, col("id"))
      .limit(k)
  }
}
