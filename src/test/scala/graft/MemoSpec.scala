package graft

import graft.index._
import graft.ops.{IvfIndex, PqIndex}
import graft.util.MetaCache
import org.apache.spark.sql.functions._

/** Every metadata memo goes through [[MetaCache]]: bounded, one entry per
  * key however often the index changes, and never serving stale data.
  */
class MemoSpec extends SparkSpec {
  import spark.implicits._

  private def docs(from: Long, until: Long, text: Long => String) =
    (from until until).map(i => (i, i.toString, text(i))).toDF("docId", "key", "text")

  test("termStats over more distinct terms than the memo bound equals a recompute") {
    val dir = scratch("memo-stats")
    IndexBuilder.build(spark, docs(0L, 600L, i => s"r${i % 300} r${(i * 7) % 300}"),
      dir, IndexOptions(docsPerSegment = 128))
    val s = new Searcher(spark, dir)
    // real terms first, so a bounded memo evicts them while the absent
    // terms of the same batch are stored
    val terms = (0 until 300).map(i => s"r$i") ++
      (0 until MetaCache.MaxEntries).map(i => s"absent$i")
    val want = IndexBuilder.readSegments(spark, dir, s.visibleWaves)
      .groupBy(col("term"))
      .agg(sum(col("df")).as("df"), sum(col("tf")).as("tf"),
        max(col("maxTf")).as("maxTf"))
      .as[TermStats].collect().map(t => t.term -> t).toMap
    assert(want.size == 300)
    assert(s.termStats(terms) == want)
    // again, now partly from the memo and partly refetched
    assert(s.termStats(terms) == want)
  }

  test("Searcher.open reuses one Searcher until the manifest changes") {
    val dir = scratch("memo-open")
    IndexBuilder.build(spark, docs(0L, 100L, i => s"old w${i % 5}"), dir)
    val s1 = Searcher.open(spark, dir)
    assert(Searcher.open(spark, dir) eq s1)
    IndexBuilder.append(spark, docs(100L, 120L, i => s"new w${i % 5}"), dir)
    val s2 = Searcher.open(spark, dir)
    assert(!(s2 eq s1))
    assert(s2.lookup("new").count() == 20)
    assert(Searcher.open(spark, dir) eq s2)
  }

  test("IVF/PQ sidecar memos hold one entry per dir across appends") {
    val rows = (0 until 480).map { i =>
      val v = Array.fill(16)(0.001f * ((graft.util.Hashing.mix(5L, i * 17)
        % 100 + 100) % 100))
      v(i % 8) = 10f + (i % 5) * 0.01f
      (i.toLong, v.toSeq)
    }
    val emb = rows.toDF("vec_id", "embedding")
    val dir = scratch("memo-sidecars")
    IvfIndex.build(emb.where(col("vec_id") < 240), "vec_id", "embedding", dir,
      16, nlist = 8)
    PqIndex.build(spark, dir, m = 4)
    def sizes = Seq(IvfIndex.listsCache.size, PqIndex.booksCache.size,
      PqIndex.completenessCache.size)
    val before = sizes
    val q = rows(3)._2.toArray
    def search(): Unit = { PqIndex.topK(spark, dir, q, 5).collect(); () }
    search()
    assert(sizes == before.map(_ + 1))
    for (r <- 0 until 3) {
      val batch = emb.where(col("vec_id") >= 240 + r * 80 &&
        col("vec_id") < 320 + r * 80)
      IvfIndex.append(batch, "vec_id", "embedding", dir)
      PqIndex.append(batch, "vec_id", "embedding", dir)
      search()
      assert(sizes == before.map(_ + 1), s"round $r")
      // the memo serves the rewritten sidecar's widest angles
      val onDisk = spark.read.parquet(s"$dir/centroids").orderBy("list")
        .collect().map(_.getDouble(2)).toSeq
      assert(IvfIndex.readLists(spark, dir).map(_.minCos).toSeq == onDisk)
    }
  }
}
