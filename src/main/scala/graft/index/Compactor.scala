package graft.index

import graft.codec.{NormsCodec, PostingCodec}
import IndexBuilder.{hadoopDelete, writeWave}
import org.apache.spark.sql.{SparkSession}
import org.apache.spark.sql.functions._

/** LSM wave merge / tiered compaction.
  *
  * Re-expresses the reference's `BlockData::merge` + `Storage::compact`
  * (/root/reference/src/storage/block.rs:152-217, storage.rs:290-334) in
  * Spark terms:
  *
  *  - merge of two (or more) waves = `groupByKey(term, segId)` over their
  *    segment rows, concatenating posting-block arrays in wave order. Blocks
  *    are independently decodable (absolute first docID), wave docID ranges
  *    are disjoint and ascending, so concatenation preserves global posting
  *    order with **no re-sort** — exactly the reference's rebased concat
  *    (block.rs:196-204). The (term, segId) shuffle key keeps head terms
  *    spread across tasks (skew-aware, north_rule).
  *  - the size-ratio-4 policy is kept verbatim: merge the two newest waves
  *    while `prev.size < 4 * last.size` (storage.rs:298-303), size measured
  *    in postings (`totalTokens` ≙ the reference's Σ tags.len(),
  *    block.rs:373).
  *  - commit order: new wave data -> manifest (drop merged waves, add merged
  *    wave) -> delete old wave dirs. A crash leaves either the old manifest
  *    (old waves intact) or the new one (new wave complete) — never loss.
  */
object Compactor {

  /** Ceiling on physical docmeta dirs one logical wave may reference before
    * a merge consolidates them (see the docmeta section of [[mergeWaves]]).
    */
  val MaxDocmetaFragments = 64

  /** Apply the reference's tiered policy until stable; returns final manifest. */
  def compact(spark: SparkSession, dir: String, ratio: Long = 4L): IndexManifest = {
    var m = ManifestIO.read(dir)
    var changed = true
    while (changed && m.waves.length >= 2) {
      val ws = m.waves.sortBy(_.wave)
      val last = ws.last
      val prev = ws(ws.length - 2)
      if (prev.totalTokens < ratio * last.totalTokens) {
        m = mergeWaves(spark, dir, Seq(prev.wave, last.wave))
      } else changed = false
    }
    m
  }

  /** Merge all committed waves into one (full compaction). */
  def fullCompact(spark: SparkSession, dir: String): IndexManifest = {
    val m = ManifestIO.read(dir)
    if (m.waves.length <= 1) m
    else mergeWaves(spark, dir, m.waves.map(_.wave))
  }

  /** Merge the given waves into a new wave id = max(all waves) + 1. */
  def mergeWaves(spark: SparkSession, dir: String, waves: Seq[Int],
      maxDocmetaFragments: Int = MaxDocmetaFragments): IndexManifest = {
    import spark.implicits._
    require(waves.size >= 2, "need at least two waves to merge")
    val t0 = System.nanoTime()
    val m0 = ManifestIO.read(dir)
    val byId = m0.waves.map(w => w.wave -> w).toMap
    require(waves.forall(byId.contains), s"unknown waves: $waves")
    // the selected waves' docId span must not interleave with any surviving
    // wave: the merged wave gets id max+1, and every reader of a run split
    // across waves (Searcher.runBlocks, used here too) relies on "higher
    // wave id => higher docId range" to concatenate runs without
    // re-sorting. A non-contiguous merge (e.g. oldest+newest around a
    // surviving middle wave) would break that invariant silently.
    locally {
      val sel = waves.map(byId).filter(_.numDocs > 0)
      if (sel.nonEmpty) {
        val lo = sel.map(_.minDocId).min
        val hi = sel.map(_.maxDocId).max
        val interleaved = m0.waves
          .filterNot(w => waves.contains(w.wave))
          .filter(w => w.numDocs > 0 && w.minDocId <= hi && w.maxDocId >= lo)
        require(interleaved.isEmpty,
          s"selected waves $waves span docIds [$lo,$hi] which interleaves " +
            s"with surviving wave(s) ${interleaved.map(_.wave).mkString(",")}: " +
            "merge only docId-contiguous wave sets")
      }
    }
    val newWave = m0.waves.map(_.wave).max + 1

    // --- segments: concat blocks per (term, segId) in wave order ----------
    val segs = IndexBuilder.readSegments(spark, dir, waves)
      .select("term", "wave", "segId", "df", "tf", "maxTf", "blocks")
      .as[SegmentPosting]
    val blockSize = m0.blockSize
    val merged = segs.groupByKey(sp => (sp.term, sp.segId))
      .mapGroups { (key: (String, Long), it: Iterator[SegmentPosting]) =>
        val (term, segId) = key
        val rs = it.toSeq
        val blocks = Searcher.runBlocks(rs)
        val df = rs.map(_.df).sum
        // repack when wave boundaries left the run fragmented (avg fill
        // below half a block): decode+re-encode restores full blocks so
        // query-time block skipping stays effective after many appends.
        // Per-posting dls are not stored, so each posting inherits its
        // SOURCE block's minDl (a valid per-posting lower bound); the new
        // blocks' minDl is then the min over the source blocks they
        // actually cover — exact when a new block draws from one source
        // block, and never looser than the old global-min inheritance.
        val repacked =
          if (blocks.length > 1 && df < blocks.length.toLong * blockSize / 2) {
            val d = PostingCodec.decodeRun(blocks)
            val dls = new Array[Int](d.docIds.length)
            var off = 0
            blocks.foreach { b =>
              java.util.Arrays.fill(dls, off, off + b.n, b.minDl)
              off += b.n
            }
            PostingCodec.encode(d.docIds, d.tfs, d.positions, blockSize, dls)
          } else blocks.toArray
        SegmentPosting(term, newWave, segId,
          df, rs.map(_.tf).sum, rs.map(_.maxTf).max, repacked)
      }
    writeWave(merged.toDF(), IndexBuilder.segmentsPath(dir), newWave)

    // --- norms: decode + re-encode per segId (delta chains can't concat) --
    val norms = IndexBuilder.readNorms(spark, dir, waves)
      .select("wave", "segId", "n", "docBytes", "dlBytes",
        "sumDl", "minDocId", "maxDocId", "minTs", "maxTs").as[SegmentNorms]
    val mergedNorms = norms.groupByKey(_.segId).mapGroups { (segId: Long, it: Iterator[SegmentNorms]) =>
      val rows = it.toArray
      val (docs, dls) = Searcher.decodeNorms(rows)
      val enc = new NormsCodec.Encoder
      var i = 0
      while (i < docs.length) { enc.add(docs(i), dls(i)); i += 1 }
      val tsMins = rows.map(_.minTs).filter(_ != 0L)
      SegmentNorms(newWave, segId, enc.n, enc.docBytes, enc.dlBytes,
        rows.map(_.sumDl).sum, rows.map(_.minDocId).min, rows.map(_.maxDocId).max,
        if (tsMins.isEmpty) 0L else tsMins.min, rows.map(_.maxTs).max)
    }
    writeWave(mergedNorms.toDF(), IndexBuilder.normsPath(dir), newWave)

    // --- docmeta: virtual merge (no I/O) with bounded fragmentation --------
    // The forward map is corpus-sized, and a merge changes NOTHING about its
    // content: wave docId ranges are disjoint and each wave's docmeta dir is
    // already range-partitioned/sorted by docId. So the merged wave simply
    // REFERENCES the source waves' physical docmeta dirs via
    // WaveInfo.docmetaWaves (union of their lists) — zero bytes moved, and
    // crash-safe by construction because the manifest commit is the only
    // state change (a physical rename before the commit would break the old
    // manifest's view; after it, the new one's). Readers union the
    // referenced dirs (IndexBuilder.readDocMeta over docmetaWaveIds); the
    // per-file docId min/max stats that drive resolve()'s isin pushdown are
    // untouched. Only when the accumulated fragment list would exceed
    // MaxDocmetaFragments does the merge fall back to the physical rewrite
    // (write-new -> commit -> delete-old, crash-safe as before), bounding
    // directory-listing growth to O(MaxDocmetaFragments) dirs at an
    // amortized rewrite cost of corpus/MaxDocmetaFragments per merge.
    val olds = waves.map(byId)
    val mergedDmw = olds.flatMap(_.docmetaWaveIds).distinct.sorted.toList
    val physicalDocmeta = mergedDmw.length > maxDocmetaFragments
    if (physicalDocmeta)
      writeWave(IndexBuilder.readDocMeta(spark, dir, mergedDmw)
        .repartitionByRange(col("docId")).sortWithinPartitions("docId"),
        IndexBuilder.docmetaPath(dir), newWave)

    // --- commit ------------------------------------------------------------
    val sec = (System.nanoTime() - t0) / 1e9
    val wi = WaveInfo(newWave,
      numDocs = olds.map(_.numDocs).sum,
      totalTokens = olds.map(_.totalTokens).sum,
      minDocId = olds.map(_.minDocId).min,
      maxDocId = olds.map(_.maxDocId).max,
      minTs = { val ts = olds.map(_.minTs).filter(_ != 0); if (ts.isEmpty) 0L else ts.min },
      maxTs = olds.map(_.maxTs).max,
      buildSec = sec,
      docsPerSec = olds.map(_.numDocs).sum / sec,
      postingsPerSec = 0.0,
      docmetaWaves = if (physicalDocmeta) Nil else mergedDmw)
    val m1 = m0.copy(waves = m0.waves.filterNot(w => waves.contains(w.wave)) :+ wi)
    IndexBuilder.writeWaveTermStats(spark, dir, newWave)
    ManifestIO.write(dir, m1)
    // old wave data no longer referenced; reclaim. Docmeta dirs are kept
    // alive while any committed wave still references them (virtual merge);
    // after a physical consolidation the whole old fragment set is dead.
    val deadDocmeta = mergedDmw.toSet -- m1.waves.flatMap(_.docmetaWaveIds)
    IndexBuilder.tableRoots(dir).foreach { root =>
      val dead = if (root == IndexBuilder.docmetaPath(dir)) deadDocmeta else waves
      dead.foreach(w => hadoopDelete(spark, s"$root/wave=$w"))
    }
    m1
  }
}
