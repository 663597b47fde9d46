package graft

import graft.ops.{Dedup, Multimodal, Similarity, TextAnalysis}
import graft.functions.VectorFunctions.cosine_sim
import org.apache.spark.sql.functions._

/** Training-data pipeline operators: dedup family (with planted
  * duplicates), ANN recall, text analysis, multimodal plumbing.
  */
class OpsSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  // corpus with planted exact + near duplicates
  private lazy val planted = {
    val base = (0 until 200).map { i =>
      val words = (0 until 30).map(j =>
        s"word${graft.util.Hashing.mix(7L, i * 100 + j) % 50 match {
          case v if v < 0 => -v; case v => v }}")
      (i.toLong, words.mkString(" "))
    }
    val exactDup = Seq((200L, base(5)._2), (201L, base(6)._2))
    val nearDup = Seq((202L, base(7)._2.replaceFirst("^\\S+", "changed")))
    (base ++ exactDup ++ nearDup).toDF("doc_id", "text")
  }

  test("exact dedup maps every duplicate to the smallest doc_id") {
    val got = Dedup.exact(planted, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    assert(got(200L) == 5L)
    assert(got(201L) == 6L)
    assert(got(5L) == 5L)
    assert(got(202L) == 202L) // near-dup is NOT an exact dup
    assert(got.size == 203)
  }

  test("jaccard pairs find planted near-duplicate above 0.8") {
    val pairs = Dedup.jaccardPairs(planted, "doc_id", "text", n = 3, threshold = 0.8)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((5L, 200L)))
    assert(pairs.contains((6L, 201L)))
    assert(pairs.contains((7L, 202L))) // 1-word edit of a 30-word doc
  }

  test("prefix-filtered jaccardPairs equals brute-force all-pairs at several thresholds") {
    // brute force: all doc pairs x jaccard over the same distinct shingle
    // sets — the un-filtered ground truth the prefix filter must preserve
    val sets = planted.select(col("doc_id"),
        array_distinct(Dedup.shingleCol(col("text"), 3)).as("arr"))
      .where(size(col("arr")) > 0)
    def brute(t: Double) = sets.as("x").join(sets.as("y"),
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        (size(array_intersect(col("x.arr"), col("y.arr"))).cast("double") /
          size(array_union(col("x.arr"), col("y.arr")))).as("jac"))
      .where(col("jac") >= t)
      .as[(Long, Long, Double)].collect().toSet
    // low thresholds stress the prefix-length arithmetic (long prefixes,
    // many candidates); 1.0 stresses the single-element degenerate prefix
    for (t <- Seq(0.3, 0.8, 0.9, 1.0)) {
      val got = Dedup.jaccardPairs(planted, "doc_id", "text", n = 3,
          threshold = t)
        .as[(Long, Long, Double)].collect().toSet
      assert(got == brute(t), s"threshold $t")
    }
  }

  test("minhash LSH candidates contain all planted duplicates with sane estimates") {
    val cand = Dedup.minhashCandidates(planted, "doc_id", "text")
      .as[(Long, Long, Double)].collect()
    val pairSet = cand.map(c => (c._1, c._2)).toSet
    assert(pairSet.contains((5L, 200L)))
    assert(pairSet.contains((7L, 202L)))
    val exactEst = cand.find(c => (c._1, c._2) == ((5L, 200L))).get._3
    assert(exactEst == 1.0) // identical shingle sets -> identical signatures
  }

  test("simhash: exact dups at hamming 0, near-dups within 3") {
    val pairs = Dedup.simhashPairs(planted, "doc_id", "text", maxDist = 3)
      .as[(Long, Long, Int)].collect()
    val m = pairs.map(p => (p._1, p._2) -> p._3).toMap
    assert(m((5L, 200L)) == 0)
    assert(m((6L, 201L)) == 0)
    assert(m.get((7L, 202L)).forall(_ <= 3))
  }

  test("simhash hot-bucket salting: degenerate corpus spreads, pairs stay exact") {
    // worst-case skew: byte-identical docs -> ONE fingerprint -> every band
    // funnels its whole population into a single bucket
    val n = 40
    val same = (0 until n).map(i =>
      (i.toLong, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    val pairs = Dedup.simhashPairs(same, "doc_id", "text", maxDist = 3,
      hotBucketThreshold = 8, hotBucketSalts = 4)
      .as[(Long, Long, Int)].collect()
    // every unordered pair exactly once, a < b, hamming 0
    assert(pairs.length == n * (n - 1) / 2)
    assert(pairs.forall(p => p._1 < p._2 && p._3 == 0))
    assert(pairs.map(p => (p._1, p._2)).distinct.length == pairs.length)

    // mechanism: the hot bucket really spans several salt groups (no
    // single-task funnel), while a small bucket keeps exactly one group
    val banded = ((0 until n).map(i => (i.toLong, 0L, 0, 7L)) ++
      Seq((100L, 1L, 0, 9L), (101L, 1L, 0, 9L)))
      .toDF("id", "sh", "band", "bucket")
    val salted = Dedup.saltHotBuckets(banded, threshold = 8, salts = 4)
    val hotSalts = salted.where(col("bucket") === 7L)
      .select("salt").distinct().count()
    val coldSalts = salted.where(col("bucket") === 9L)
      .select("salt").distinct().collect().map(_.getInt(0)).toSeq
    assert(hotSalts > 1, "hot bucket must be split across salt groups")
    assert(coldSalts == Seq(0), "cold bucket must stay a single group")
  }

  test("contamination flags planted eval-set leaks with exact shared counts") {
    // probe = docs 5/6/7; their planted copies 200/201 (exact) and 202
    // (first-word edit) sit in the corpus — the decontamination relation
    // must surface exactly those, with the full 4-gram shingle counts
    val probe = planted.where(col("doc_id").isin(5L, 6L, 7L))
    val corpus = planted.where(col("doc_id") >= 190)
    val got = Dedup.contamination(corpus, probe, "doc_id", "text",
        n = 4, minShared = 2)
      .as[(Long, Long, Long)].collect().toSet
    // driver-side oracle over the same shingle definition
    val texts = planted.as[(Long, String)].collect().toMap
    def shs(id: Long): Set[String] = {
      val t = graft.text.Tokenize.tokenizeScala(texts(id))
      (0 to t.length - 4).map(i => t.slice(i, i + 4).mkString(" ")).toSet
    }
    val want = (for {
      c <- texts.keys if c >= 190
      p <- Seq(5L, 6L, 7L)
      n = (shs(c) & shs(p)).size if n >= 2
    } yield (c, p, n.toLong)).toSet
    assert(got == want, s"got=$got want=$want")
    // the planted leaks are all present
    assert(Set(200L, 201L, 202L).subsetOf(got.map(_._1)))
    // non-broadcast path is the same relation
    val got2 = Dedup.contamination(corpus, probe, "doc_id", "text",
        n = 4, minShared = 2, broadcastProbe = false)
      .as[(Long, Long, Long)].collect().toSet
    assert(got2 == got)
  }

  test("clusters: transitive components map to min id; singletons to themselves") {
    val nodes = (0L to 9L).toSeq.toDF("id")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (8L, 9L), (7L, 9L)).toDF("a", "b")
    val got = Dedup.clusters(nodes, "id", pairs).as[(Long, Long)].collect().toMap
    assert(got == Map(0L -> 0L, 1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L,
      5L -> 5L, 6L -> 5L, 7L -> 7L, 8L -> 7L, 9L -> 7L))
  }

  test("clusters: a 65-node path converges in O(log n) rounds (pointer jumping)") {
    // plain min-propagation needs 64 rounds here; the jump halves chain
    // depth each round, so 14 rounds (incl. the fixpoint-verify round) is
    // only reachable with the jump working. checkpointEvery=3 also forces
    // the staged lineage-cut path to run.
    val n = 65
    val nodes = (0L until n).toSeq.toDF("id")
    val pairs = (1L until n).map(i => (i - 1, i)).toDF("a", "b")
    val got = Dedup.clusters(nodes, "id", pairs, maxRounds = 14,
        checkpointEvery = 3, smallGraphPairs = 0) // force the distributed loop
      .as[(Long, Long)].collect()
    assert(got.length == n && got.forall(_._2 == 0L))
  }

  test("clusters: small-graph union-find fast path equals the distributed loop") {
    // mixed shapes: a chain, a star, disjoint pairs, self-loops, an id
    // appearing in pairs but not in nodes (must still resolve reps through
    // it), and singletons untouched by any pair
    val nodes = (0L until 40L).toSeq.toDF("id")
    val pairs = ((1L until 12L).map(i => (i - 1, i)) ++
      Seq((20L, 25L), (20L, 26L), (20L, 27L), (30L, 30L), (33L, 99L),
        (99L, 34L))).toDF("a", "b")
    val fast = Dedup.clusters(nodes, "id", pairs)
      .as[(Long, Long)].collect().toMap
    val dist = Dedup.clusters(nodes, "id", pairs, smallGraphPairs = 0)
      .as[(Long, Long)].collect().toMap
    assert(fast == dist)
    assert(fast(11L) == 0L && fast(27L) == 20L && fast(34L) == 33L)
    assert(fast(39L) == 39L && fast.size == 40)
  }

  test("clusters over minhashDedup pairs: planted duplicates share their source's rep") {
    val pairs = Dedup.minhashDedup(planted, "doc_id", "text", threshold = 0.8)
    val got = Dedup.clusters(planted.select("doc_id"), "doc_id", pairs)
      .as[(Long, Long)].collect().toMap
    assert(got(200L) == 5L && got(5L) == 5L)
    assert(got(201L) == 6L)
    assert(got(202L) == 7L)
    assert(got(0L) == 0L) // untouched doc keeps itself
    assert(got.size == 203)
  }

  test("simhash salted plan is result-identical to the unsalted plan") {
    val skewed = planted.union(
      (300 until 330).map(i => (i.toLong, "copy pasta boilerplate text"))
        .toDF("doc_id", "text"))
    def run(threshold: Int) =
      Dedup.simhashPairs(skewed, "doc_id", "text", maxDist = 3,
        hotBucketThreshold = threshold, hotBucketSalts = 4)
        .as[(Long, Long, Int)].collect().toSet
    assert(run(1000000) == run(2)) // salting never active vs aggressively active
  }

  test("LSH ANN achieves recall >= 0.5 of brute-force top-10") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val ids = emb.select("vec_id").as[Long].collect().take(5)
    val recalls = ids.map { qid =>
      val q = emb.where(col("vec_id") === qid).select("embedding")
        .head().getSeq[Float](0).toArray
      val brute = Similarity.bruteTopK(emb, "vec_id", "embedding", q, 10,
        excludeId = Some(qid)).select("vec_id").as[Long].collect().toSet
      val lsh = Similarity.lshTopK(emb, "vec_id", "embedding", q, 10,
        dim = q.length, excludeId = Some(qid))
        .select("vec_id").as[Long].collect().toSet
      (brute intersect lsh).size.toDouble / brute.size
    }
    val mean = recalls.sum / recalls.length
    assert(mean >= 0.5, s"mean recall $mean (${recalls.mkString(",")})")
  }

  test("cosine_sim native expression matches a scala reference implementation") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet").limit(50).cache()
    val q = emb.head().getSeq[Float](1).toArray
    val got = emb.select(col("vec_id"), cosine_sim(col("embedding"), typedLit(q.toSeq)).as("c"))
      .as[(Long, Double)].collect().toMap
    val ref = emb.select("vec_id", "embedding").as[(Long, Seq[Float])].collect().map {
      case (id, v) =>
        var dot = 0.0; var na = 0.0; var nb = 0.0
        v.indices.foreach { i =>
          dot += v(i).toDouble * q(i); na += v(i).toDouble * v(i); nb += q(i).toDouble * q(i)
        }
        id -> dot / (math.sqrt(na) * math.sqrt(nb))
    }.toMap
    ref.foreach { case (id, c) => assert(math.abs(got(id) - c) < 1e-12, id) }
  }

  test("cosine_sim participates in whole-stage codegen") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val q = emb.head().getSeq[Float](1).toArray
    val plan = emb.select(cosine_sim(col("embedding"), typedLit(q.toSeq)))
      .queryExecution.executedPlan
    val hasWsc = plan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
    }.nonEmpty
    assert(hasWsc, plan.toString)
  }

  test("language id is deterministic and marker-driven") {
    val df = Seq(
      (1L, "the quick brown fox and the lazy dog"),
      (2L, "der hund und die katze ist ein tier"),
      (3L, "le chat et la maison est une belle"),
      (4L, "xyzzy plugh qwerty")).toDF("doc_id", "text")
    val got = TextAnalysis.langId(df, "doc_id", "text")
      .as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "en", 2L -> "de", 3L -> "fr", 4L -> "und"))
  }

  test("token stats handle empty text") {
    val df = Seq((1L, ""), (2L, "one two two")).toDF("doc_id", "text")
    val r = TextAnalysis.tokenStats(df, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(r(1L) == ((0L, 0L, 0.0)))
    assert(r(2L) == ((3L, 2L, 3.0)))
  }

  test("multimodal metadata extraction is deterministic over binary payloads") {
    val df = Seq((1L, "hello"), (2L, "")).toDF("doc_id", "text")
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
    val got = Multimodal.extractMeta(df, "doc_id", "payload").collect()
      .map(m => m.doc_id -> m).toMap
    assert(got(1L).n_bytes == 5 && got(1L).width == 64 + 5 % 576)
    assert(got(2L).n_bytes == 0 && got(2L).kind == "image")
  }

  test("BMP header parse: real width/height from crafted bytes") {
    val bmp = Multimodal.bmpBytes(640, 480, Array[Byte](1, 2, 3))
    assert(Multimodal.decodeReal(bmp) == Some((640, 480, 1, "image")))
    // truncated header -> not recognized
    assert(Multimodal.decodeReal(bmp.take(20)).isEmpty)
  }

  test("WAV chunk walk: frames from data size / block align, extra chunks skipped") {
    val wav = Multimodal.wavBytes(16000, 2, 16, 1234)
    assert(Multimodal.decodeReal(wav) == Some((0, 0, 1234, "audio")))
    // insert a LIST chunk between fmt and data: parser must walk past it
    val pre = wav.take(36)
    val listChunk = "LIST".getBytes("US-ASCII") ++
      Array[Byte](6, 0, 0, 0) ++ Array.fill[Byte](6)(7)
    val withList = pre ++ listChunk ++ wav.drop(36)
    assert(Multimodal.decodeReal(withList) == Some((0, 0, 1234, "audio")))
  }

  test("PNG IHDR parse: big-endian dimensions") {
    val png = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a,
      0, 0, 0, 13, 'I', 'H', 'D', 'R',
      0, 0, 1, 0, // width 256
      0, 0, 0, 64, // height 64
      8, 6, 0, 0, 0)
    assert(Multimodal.decodeReal(png) == Some((256, 64, 1, "image")))
  }

  test("unknown payloads fall back to the deterministic stub") {
    val raw = "just some text".getBytes("UTF-8")
    assert(Multimodal.decodeReal(raw).isEmpty)
    assert(Multimodal.decode(raw) == Multimodal.decodeStub(raw))
  }

  test("decodeReal terminates and never throws on adversarial WAV chunk sizes") {
    def ascii(s: String) = s.getBytes("US-ASCII")
    // historical bug shape: a signed chunk-size read made sz = -8 a zero
    // advance (executor-wedging busy loop); craft exactly that payload
    val evilJunk = ascii("RIFF") ++ Array[Byte](0, 0, 0, 0) ++ ascii("WAVE") ++
      ascii("JUNK") ++ Array[Byte](-8, -1, -1, -1) ++ Array.fill[Byte](24)(0)
    assert(Multimodal.decodeReal(evilJunk).isEmpty)
    // valid fmt chunk followed by the non-advancing junk chunk before data
    val wav = Multimodal.wavBytes(16000, 1, 16, 10)
    val evilMid = wav.take(36) ++ ascii("EVIL") ++
      Array[Byte](-9, -1, -1, -1) ++ wav.drop(36)
    Multimodal.decodeReal(evilMid) // must return (walks off the end)
    // seeded fuzz: raw bytes and RIFF/WAVE-framed random chunk lists
    val rnd = new scala.util.Random(1234)
    (0 until 3000).foreach { i =>
      val body = Array.fill[Byte](rnd.nextInt(120))(rnd.nextInt(256).toByte)
      val p =
        if (i % 2 == 0) body
        else ascii("RIFF") ++ Array[Byte](body.length.toByte, 0, 0, 0) ++
          ascii("WAVE") ++ body
      Multimodal.decode(p): Unit // terminates, never throws
    }
  }

  test("dedup staging goes to the configured dir and dropStaged reclaims it") {
    val root = scratch("dedup-stage")
    val out = Dedup.jaccardPairs(planted, "doc_id", "text", n = 3,
      threshold = 0.8, stagingDir = Some(root))
    assert(out.count() > 0)
    val staged = new java.io.File(root).listFiles()
    assert(staged != null && staged.nonEmpty,
      "staging table must land under the explicit staging dir")
    graft.util.Staging.dropStaged(under = Some(root))
    val after = new java.io.File(root).listFiles()
    assert(after == null || after.isEmpty, "dropStaged must reclaim the staging dir")
  }

  test("a staged dir is registered for the drain as soon as a scope reserves it") {
    val root = scratch("scope-registered")
    graft.util.Staging.scoped(spark, Some(root)) { st =>
      val dirs = Seq(st.temp("t"), st.result("r")).map(new java.io.File(_))
      dirs.foreach(_.mkdirs())
      // what the end-of-run drain (and its shutdown hook) does mid-call
      graft.util.Staging.dropStaged(under = Some(root))
      assert(dirs.forall(!_.exists), "a running call's dirs must be reclaimable")
    }
  }

  test("dedup: a failed call releases what it persisted and staged") {
    import org.apache.spark.sql.graftbridge.CacheProbe.cachedEntries
    val before = cachedEntries(spark)
    // a staging root below a regular file makes the result write fail
    val file = java.nio.file.Files.createTempFile("graft-not-a-dir", ".txt")
    intercept[Exception] {
      Dedup.jaccardPairs(planted, "doc_id", "text", n = 3, threshold = 0.8,
        stagingDir = Some(file.resolve("staging").toString))
    }
    assert(cachedEntries(spark) == before, "the shingle cache must be released")
    // a 20-node path needs more than one round: clusters() fails after
    // persisting edges and labels and writing a lineage cut
    val root = scratch("dedup-cc-fail")
    val ex = intercept[IllegalArgumentException] {
      Dedup.clusters((0L until 20L).toSeq.toDF("id"), "id",
        (1L until 20L).map(i => (i - 1, i)).toDF("a", "b"), maxRounds = 1,
        checkpointEvery = 1, stagingDir = Some(root), smallGraphPairs = 0)
    }
    assert(ex.getMessage.contains("did not converge"))
    assert(cachedEntries(spark) == before, "edges and labels must be released")
    val staged = Option(new java.io.File(root).list()).toSeq.flatten
    assert(staged.isEmpty, s"a failed call must leave no staged dir, got $staged")
  }

  test("clusters: the per-round lineage-cut dirs go when the call ends") {
    val root = scratch("dedup-cc-stage")
    val nodes = (0L until 20L).toSeq.toDF("id")
    val pairs = (1L until 20L).map(i => (i - 1, i)).toDF("a", "b")
    val got = Dedup.clusters(nodes, "id", pairs, checkpointEvery = 1,
        stagingDir = Some(root), smallGraphPairs = 0)
      .as[(Long, Long)].collect()
    assert(got.length == 20 && got.forall(_._2 == 0L))
    val staged = new java.io.File(root).list().toSeq
    assert(staged.size == 1 && !staged.head.startsWith("dedup-cc-"),
      s"only the staged result may remain, got $staged")
    graft.util.Staging.dropStaged(under = Some(root))
  }

  test("minhash LSH + exact verification equals exact all-pairs jaccard") {
    val exact = Dedup.jaccardPairs(planted, "doc_id", "text", n = 3, threshold = 0.8)
      .as[(Long, Long, Double)].collect().toSet
    val lsh = Dedup.minhashDedup(planted, "doc_id", "text", threshold = 0.8)
      .as[(Long, Long, Double)].collect().toSet
    assert(lsh == exact)
    assert(lsh.nonEmpty)
  }

  test("persisted ANN index: multi-probe topK == brute force on sf0.001") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val q = emb.where(col("vec_id") === 3).select("embedding")
      .head().getSeq[Float](0).toArray
    val dir = scratch("annidx")
    graft.ops.AnnIndex.build(emb, "vec_id", "embedding", dir, q.length)
    val got = graft.ops.AnnIndex.topK(spark, dir, q, 10, excludeId = Some(3L))
      .as[(Long, Double)].collect().toSeq
    val want = Similarity.bruteTopK(emb, "vec_id", "embedding", q, 10,
        excludeId = Some(3L))
      .as[(Long, Double)].collect().toSeq
    assert(got == want)
  }

  test("persisted IVF index: certified topK == brute force on sf0.001; rebuild deterministic") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val q = emb.where(col("vec_id") === 3).select("embedding")
      .head().getSeq[Float](0).toArray
    val dir = scratch("ivfidx")
    graft.ops.IvfIndex.build(emb, "vec_id", "embedding", dir, q.length)
    val got = graft.ops.IvfIndex.topK(spark, dir, q, 10, excludeId = Some(3L))
      .as[(Long, Double)].collect().toSeq
    val want = Similarity.bruteTopK(emb, "vec_id", "embedding", q, 10,
        excludeId = Some(3L))
      .as[(Long, Double)].collect().toSeq
    assert(got == want)
    // deterministic retrain: a second build derives bit-identical sidecars
    val dir2 = scratch("ivfidx2")
    graft.ops.IvfIndex.build(emb, "vec_id", "embedding", dir2, q.length)
    assert(graft.ops.IvfIndex.readLists(spark, dir)
        .map(li => (li.list, li.centroid.toSeq, li.minCos)).toSeq ==
      graft.ops.IvfIndex.readLists(spark, dir2)
        .map(li => (li.list, li.centroid.toSeq, li.minCos)).toSeq)
    // params round-trip
    val p = graft.ops.IvfIndex.readParams(spark, dir)
    assert(p.dim == q.length && p.nlist == 16 && p.seed == 42L)
  }

  test("IVF trained on a hash sample stays exact (certification is unconditional)") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val q = emb.where(col("vec_id") === 3).select("embedding")
      .head().getSeq[Float](0).toArray
    val dir = scratch("ivfidx-sample")
    // train on ~1/2 of the corpus (assignment still sees every row)
    graft.ops.IvfIndex.build(emb, "vec_id", "embedding", dir, q.length,
      trainSampleMod = 2)
    val got = graft.ops.IvfIndex.topK(spark, dir, q, 10, excludeId = Some(3L))
      .as[(Long, Double)].collect().toSeq
    val want = Similarity.bruteTopK(emb, "vec_id", "embedding", q, 10,
        excludeId = Some(3L))
      .as[(Long, Double)].collect().toSeq
    assert(got == want)
  }

  test("IVF listBound is a sound, useful cosine upper bound") {
    import graft.ops.IvfIndex.listBound
    // theta_q <= theta_max: a member may coincide with the query -> 1.0
    assert(listBound(0.9, 0.5) == 1.0)
    assert(listBound(0.0, -0.5) == 1.0)
    // theta_q > theta_max: cos(theta_q - theta_max), checked against the
    // acos/cos reference form
    for ((cq, cm) <- Seq((0.2, 0.9), (-0.4, 0.5), (0.0, 0.99), (-0.9, -0.1))) {
      val ref = math.cos(math.acos(cq) - math.acos(cm))
      assert(math.abs(listBound(cq, cm) - ref) < 1e-9, s"($cq, $cm)")
    }
    // soundness on a brute sphere sample: for any x with angle(x, c) <=
    // theta_max, cos(q, x) <= bound(cos(q, c), cos(theta_max)); the
    // in-plane same-side placement maximizes cos(q, x) at cos(|tq - tx|)
    val grid = (0 to 10).map(_ * 0.31)
    for (tq <- grid; tm <- grid.filter(_ > 0); tx <- grid if tx <= tm) {
      val bound = listBound(math.cos(tq), math.cos(tm))
      val worstCos = math.cos(math.abs(tq - tx))
      assert(worstCos <= bound + 1e-12, s"tq=$tq tm=$tm tx=$tx")
    }
  }

  test("IVF append: quantizer stays fixed, certified topK stays exact over the union") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val q = emb.where(col("vec_id") === 3).select("embedding")
      .head().getSeq[Float](0).toArray
    val dir = scratch("ivfidx-append")
    graft.ops.IvfIndex.build(emb.where(col("vec_id") < 250), "vec_id",
      "embedding", dir, q.length)
    val before = graft.ops.IvfIndex.readLists(spark, dir)
    graft.ops.IvfIndex.append(emb.where(col("vec_id") >= 250), "vec_id",
      "embedding", dir)
    val after = graft.ops.IvfIndex.readLists(spark, dir)
    // centroids are immutable across append; widest angles only loosen
    assert(before.map(_.centroid.toSeq).toSeq == after.map(_.centroid.toSeq).toSeq)
    assert(before.zip(after).forall { case (b, a) => a.minCos <= b.minCos })
    val got = graft.ops.IvfIndex.topK(spark, dir, q, 10, excludeId = Some(3L))
      .as[(Long, Double)].collect().toSeq
    val want = Similarity.bruteTopK(emb, "vec_id", "embedding", q, 10,
        excludeId = Some(3L))
      .as[(Long, Double)].collect().toSeq
    assert(got == want)
  }

  test("IVF certified search prunes lists on a tightly clustered corpus") {
    // 8 tight clusters on distinct axes: certification should close after
    // probing far fewer than all lists
    val rows = (0 until 400).map { i =>
      val c = i % 8
      val v = Array.fill(16)(0.001f * ((graft.util.Hashing.mix(9L, i * 31)
        % 100 + 100) % 100))
      v(c) = 10f + (i % 7) * 0.01f
      (i.toLong, v.toSeq)
    }
    val emb = rows.toDF("vec_id", "embedding")
    val dir = scratch("ivfidx-tight")
    graft.ops.IvfIndex.build(emb, "vec_id", "embedding", dir, 16, nlist = 8)
    val q = rows(3)._2.toArray
    val got = graft.ops.IvfIndex.topK(spark, dir, q, 5, excludeId = Some(3L))
      .as[(Long, Double)].collect().toSeq
    val want = Similarity.bruteTopK(emb, "vec_id", "embedding", q, 5,
        excludeId = Some(3L))
      .as[(Long, Double)].collect().toSeq
    assert(got == want)
    // the pruning itself: with k-th cos ~1 inside the query's own tight
    // cluster, every other list's bound falls below it
    val lists = graft.ops.IvfIndex.readLists(spark, dir)
    val qv = q.toIndexedSeq
    val kth = want.last._2
    val surviving = lists.count(li => graft.ops.IvfIndex.listBound(
      graft.ops.IvfIndex.cosineTo(qv, li.centroid), li.minCos) >= kth - 1e-12)
    assert(surviving < lists.length,
      s"expected pruning on a tight corpus, but all ${lists.length} lists survive")
  }

  test("PQ interval soundness: |cos - est| <= err for seeded vectors (property)") {
    // the core certification invariant, exercised driver-side with no
    // Spark: random vectors (seeded, FIXTURES.md), books trained on a
    // prefix, EVERY vector's ADC estimate against EVERY query must sit
    // inside the stored interval
    import graft.ops.PqIndex
    val dim = 32; val m = 4; val dsub = dim / m
    def vec(seed: Long, i: Int): Array[Float] = Array.tabulate(dim) { j =>
      (graft.util.Hashing.mix(seed, i * 131 + j) % 1000).toFloat / 250f - 2f
    }
    val all = (0 until 300).map(i => vec(5L, i)).toArray
    val sample = all.take(100).flatMap(v =>
      PqIndex.normalize(v.toIndexedSeq, dim))
    val books = PqIndex.trainBooks(sample, dim, m, ks = 16, iters = 5)
    val encoded = all.map(v =>
      PqIndex.encodeOne(PqIndex.normalize(v.toIndexedSeq, dim), books, m, dsub))
    for (qi <- 0 until 20) {
      val q = vec(77L, qi)
      val qn = PqIndex.normalize(q.toIndexedSeq, dim).get
      val adc = Array.tabulate(m) { s =>
        books(s).map { c =>
          var d = 0.0; var i = 0
          while (i < dsub) { d += qn(s * dsub + i).toDouble * c(i); i += 1 }
          d
        }
      }
      all.indices.foreach { i =>
        val (code, err) = encoded(i)
        val est = code.zipWithIndex.map { case (b, s) => adc(s)(b & 0xff) }.sum
        val exact = graft.ops.IvfIndex.cosineTo(q.toIndexedSeq, all(i))
        assert(math.abs(exact - est) <= err + 1e-9,
          s"q$qi v$i: exact=$exact est=$est err=$err")
      }
    }
  }

  test("PQ certified search == brute force on sf0.001; codes deterministic") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val dir = scratch("pqidx")
    val dim = emb.select("embedding").head().getSeq[Float](0).length
    graft.ops.IvfIndex.build(emb, "vec_id", "embedding", dir, dim)
    graft.ops.PqIndex.build(spark, dir)
    // several query points, incl. the diffuse corpus's worst case
    for (qid <- Seq(0L, 3L, 17L, 111L)) {
      val q = emb.where(col("vec_id") === qid).select("embedding")
        .head().getSeq[Float](0).toArray
      val got = graft.ops.PqIndex.topK(spark, dir, q, 10, excludeId = Some(qid))
        .as[(Long, Double)].collect().toSeq
      val want = Similarity.bruteTopK(emb, "vec_id", "embedding", q, 10,
          excludeId = Some(qid))
        .as[(Long, Double)].collect().toSeq
      assert(got == want, s"query $qid")
    }
    // deterministic re-encode: a second build derives bit-identical codes
    val dir2 = scratch("pqidx2")
    graft.ops.IvfIndex.build(emb, "vec_id", "embedding", dir2, dim)
    graft.ops.PqIndex.build(spark, dir2)
    def codes(d: String) = spark.read.parquet(s"$d/pq/codes")
      .select("id", "code", "err").collect()
      .map(r => (r.getLong(0), r.getAs[Array[Byte]](1).toSeq, r.getDouble(2)))
      .sortBy(_._1).toSeq
    assert(codes(dir) == codes(dir2))
    val p = graft.ops.PqIndex.readParams(spark, dir)
    assert(p.dim == dim && p.m == 8 && p.ks == 256)
  }

  test("PQ append keeps the certified search exact over the enlarged corpus") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val dir = scratch("pqidx-app")
    val dim = emb.select("embedding").head().getSeq[Float](0).length
    val base = emb.where(col("vec_id") < 400)
    val batch = emb.where(col("vec_id") >= 400)
    graft.ops.IvfIndex.build(base, "vec_id", "embedding", dir, dim)
    graft.ops.PqIndex.build(spark, dir)
    graft.ops.IvfIndex.append(batch, "vec_id", "embedding", dir)
    // a stale sidecar is detectable before it can cost recall...
    assert(!graft.ops.PqIndex.verifyComplete(spark, dir))
    // ...and the search REFUSES to open it: an IVF append without the
    // matching PQ append must fail loudly, not silently shrink the
    // candidate set (round-6 fix, r5 verdict #5)
    val q0 = emb.where(col("vec_id") === 2).select("embedding")
      .head().getSeq[Float](0).toArray
    val ex = intercept[IllegalArgumentException] {
      graft.ops.PqIndex.topK(spark, dir, q0, 10)
    }
    assert(ex.getMessage.contains("incomplete"), ex.getMessage)
    graft.ops.PqIndex.append(batch, "vec_id", "embedding", dir)
    assert(graft.ops.PqIndex.verifyComplete(spark, dir))
    // the completeness count folds the batch in and matches the layout
    assert(graft.ops.PqIndex.readParams(spark, dir).rows == emb.count())
    // ...and the appended rows are reachable and exactly ranked
    for (qid <- Seq(2L, 450L)) {
      val q = emb.where(col("vec_id") === qid).select("embedding")
        .head().getSeq[Float](0).toArray
      val got = graft.ops.PqIndex.topK(spark, dir, q, 10, excludeId = Some(qid))
        .as[(Long, Double)].collect().toSeq
      val want = Similarity.bruteTopK(emb, "vec_id", "embedding", q, 10,
          excludeId = Some(qid))
        .as[(Long, Double)].collect().toSeq
      assert(got == want, s"query $qid")
    }
  }

  test("PQ certification rescores a fraction of a tightly clustered corpus") {
    // same 8-tight-cluster corpus as the IVF pruning test: the ADC
    // interval should clear most candidates without touching vectors
    val rows = (0 until 400).map { i =>
      val c = i % 8
      val v = Array.fill(16)(0.001f * ((graft.util.Hashing.mix(9L, i * 31)
        % 100 + 100) % 100))
      v(c) = 10f + (i % 7) * 0.01f
      (i.toLong, v.toSeq)
    }
    val emb = rows.toDF("vec_id", "embedding")
    val dir = scratch("pqidx-tight")
    graft.ops.IvfIndex.build(emb, "vec_id", "embedding", dir, 16, nlist = 8)
    graft.ops.PqIndex.build(spark, dir, m = 4)
    val q = rows(3)._2.toArray
    val (got, stats) = graft.ops.PqIndex.topKWithStats(
      spark, dir, q, 5, excludeId = Some(3L))
    val want = Similarity.bruteTopK(emb, "vec_id", "embedding", q, 5,
        excludeId = Some(3L))
      .as[(Long, Double)].collect().toSeq
    assert(got.as[(Long, Double)].collect().toSeq == want)
    assert(stats.rescored < 400,
      s"expected PQ intervals to clear some candidates, stats=$stats")
    assert(stats.rescored >= 5)
    // degenerate vectors stay exact: a zero vector encodes with err=2.0
    // (always rescored) and drags its list's minCos to <= 0, whose bound
    // is 1.0 — the list is always scanned, so the convention cos=0 flows
    // through the exact path
    val weird = (rows.take(50) :+ (900L, Array.fill(16)(0f).toSeq))
      .toDF("vec_id", "embedding")
    val dirW = scratch("pqidx-weird")
    graft.ops.IvfIndex.build(weird, "vec_id", "embedding", dirW, 16, nlist = 4)
    graft.ops.PqIndex.build(spark, dirW, m = 4)
    val gotW = graft.ops.PqIndex.topK(spark, dirW, q, 8)
      .as[(Long, Double)].collect().toSeq
    val wantW = Similarity.bruteTopK(weird, "vec_id", "embedding", q, 8)
      .as[(Long, Double)].collect().toSeq
    assert(gotW == wantW)
  }

  test("topk_by equals sort-based top-k under (score desc, id asc), map-side combined") {
    import graft.functions.TopKBy.topk_by
    // duplicate scores across groups exercise the id tie-break; 8 input
    // partitions exercise partial-state merge
    val rows = (0 until 2000).map { i =>
      val s = math.abs(graft.util.Hashing.mix(3L, i) % 100).toDouble / 10.0
      (i % 7, s, i.toLong)
    }
    val df = rows.toDF("g", "s", "id").repartition(8)
    val agg = df.groupBy($"g").agg(topk_by($"s", $"id", 5).as("tk"))
    val got = agg
      .select($"g", posexplode($"tk").as(Seq("r", "e")))
      .select($"g", $"r", $"e.score", $"e.id")
      .as[(Int, Int, Double, Long)].collect()
      .groupBy(_._1)
      .map { case (g, rs) => g -> rs.sortBy(_._2).map(r => (r._3, r._4)).toSeq }
    val want = rows.groupBy(_._1).map { case (g, rs) =>
      g -> rs.map(r => (r._2, r._3)).sortBy(r => (-r._1, r._2)).take(5)
    }
    assert(got == want)
    // TypedImperativeAggregate plans as ObjectHashAggregate partial+final:
    // at most k rows per (partition, group) enter the shuffle
    val plan = agg.queryExecution.executedPlan.toString
    assert("ObjectHashAggregate".r.findAllIn(plan).size >= 2, plan)
  }

  test("topk_by SQL registration: the GraftExtensions builder triple works end-to-end") {
    val (fid, info, builder) = graft.functions.TopKBy.registration
    spark.sessionState.functionRegistry.registerFunction(fid, info, builder)
    Seq((1, 5.0, 10L), (1, 7.0, 11L), (1, 7.0, 9L), (2, 1.0, 1L))
      .toDF("g", "s", "id").createOrReplaceTempView("tkb")
    val got = spark.sql(
      "SELECT g, transform(topk_by(s, id, 2), x -> x.id) AS ids FROM tkb GROUP BY g")
      .as[(Int, Seq[Long])].collect().toMap
    assert(got(1) == Seq(9L, 11L)) // score-7.0 tie resolves to the lower id
    assert(got(2) == Seq(1L))
  }

  test("batched IVF topKBatch equals brute force under the rounded total order") {
    val embDf = spark.read.parquet(s"$sf/embeddings.parquet")
    val emb = embDf.select($"vec_id", $"embedding")
      .as[(Long, Seq[Float])].collect()
    val dir = scratch("ivfidx-batch")
    graft.ops.IvfIndex.build(embDf, "vec_id", "embedding", dir, 64)
    val queries = embDf.where(pmod(col("vec_id"), lit(37)) === 0)
    val got = graft.ops.IvfIndex
      .topKBatch(spark, dir, queries, "vec_id", "embedding", 10)
      .as[(Long, Long, Double)].collect()
      .groupBy(_._1)
      .map { case (q, rs) => q -> rs.map(r => (r._2, r._3)).sortBy(r => (-r._2, r._1)).toSeq }
    def r4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val want = emb.map(_._1).filter(_ % 37 == 0).map { q =>
      val qv = emb.find(_._1 == q).get._2.toArray
      q -> emb.filter(_._1 != q).toSeq
        .map { case (id, v) =>
          (id, r4(graft.ops.IvfIndex.cosineTo(v.toIndexedSeq, qv))) }
        .sortBy(r => (-r._2, r._1)).take(10)
    }.toMap
    assert(got == want)
  }

  test("batched topKBatch on a tight corpus: round 2 prunes, results stay exact") {
    val rows = (0 until 400).map { i =>
      val c = i % 8
      val v = Array.fill(16)(0.001f * ((graft.util.Hashing.mix(9L, i * 31)
        % 100 + 100) % 100))
      v(c) = 10f + (i % 7) * 0.01f
      (i.toLong, v.toSeq)
    }
    val emb = rows.toDF("vec_id", "embedding")
    val dir = scratch("ivfidx-batch-tight")
    graft.ops.IvfIndex.build(emb, "vec_id", "embedding", dir, 16, nlist = 8)
    val queries = emb.where(col("vec_id") < 8) // one per cluster
    val got = graft.ops.IvfIndex
      .topKBatch(spark, dir, queries, "vec_id", "embedding", 5)
      .as[(Long, Long, Double)].collect()
      .groupBy(_._1)
      .map { case (q, rs) => q -> rs.map(r => (r._2, r._3)).sortBy(r => (-r._2, r._1)).toSeq }
    def r4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    (0L until 8L).foreach { q =>
      val qv = rows(q.toInt)._2.toArray
      val want = rows.filter(_._1 != q)
        .map { case (id, v) =>
          (id, r4(graft.ops.IvfIndex.cosineTo(v.toIndexedSeq, qv))) }
        .sortBy(r => (-r._2, r._1)).take(5).toSeq
      assert(got(q) == want, s"query $q")
    }
  }

  test("topKBatch: a query with zero round-1 candidates still sweeps all lists") {
    // singleton-list geometry: one vector on its own axis, the rest in a
    // tight cluster around another — Lloyd separates them, so the lone
    // vector's home list holds ONLY its (excluded) self row and round 1
    // yields NO candidates for it. Before the round-6 fix the qid vanished
    // from the output (ADVICE item 1); the contract is a full list sweep
    // (kth = -Inf), matching single-query topK.
    val rows = (0L, Seq(10f, 0f, 0f, 0f)) +: (1 until 9).map { i =>
      (i.toLong, Seq(0.01f * i, 10f, 0.02f * (i % 3), 0f))
    }
    val emb = rows.toDF("vec_id", "embedding")
    val dir = scratch("ivfidx-batch-empty1")
    graft.ops.IvfIndex.build(emb, "vec_id", "embedding", dir, 4, nlist = 2)
    // precondition of the scenario, asserted so a geometry drift fails loudly
    val byList = graft.ops.IvfIndex.vectors(spark, dir)
      .groupBy("list").agg(collect_set("id").as("ids"))
      .as[(Int, Seq[Long])].collect().toMap
    assert(byList.values.exists(_.toSet == Set(0L)),
      s"geometry must isolate id 0 in its own list, got $byList")
    val queries = emb.where(col("vec_id") === 0L)
    val got = graft.ops.IvfIndex
      .topKBatch(spark, dir, queries, "vec_id", "embedding", 3, nprobe0 = 1)
      .as[(Long, Long, Double)].collect().toSeq.sortBy(r => (-r._3, r._2))
    def r4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val qv = rows.head._2.toArray
    val want = rows.tail
      .map { case (id, v) =>
        (0L, id, r4(graft.ops.IvfIndex.cosineTo(v.toIndexedSeq, qv))) }
      .sortBy(r => (-r._3, r._2)).take(3)
    assert(got == want)
  }

  test("topk_by input typing: numeric inputs widen, non-castable fail analysis") {
    val (fid, info, builder) = graft.functions.TopKBy.registration
    spark.sessionState.functionRegistry.registerFunction(fid, info, builder)
    Seq((1, 5, 10), (1, 7, 11), (2, 3, 4)).toDF("g", "s", "id")
      .createOrReplaceTempView("tkb_typed")
    // INT score + INT id: implicit widening, not an executor-side CCE
    val got = spark.sql(
      "SELECT g, transform(topk_by(s, id, 1), x -> x.id) AS ids " +
        "FROM tkb_typed GROUP BY g")
      .as[(Int, Seq[Long])].collect().toMap
    assert(got(1) == Seq(11L) && got(2) == Seq(4L))
    // a non-castable id (array) must fail at ANALYSIS time
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT g, topk_by(s, array(id), 1) FROM tkb_typed GROUP BY g")
        .collect()
    }
  }

  test("IVF pairs equals brute-force all-pairs and is salt-invariant") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select($"vec_id", $"embedding")
    val dir = scratch("ivfidx-pairs")
    val dim = emb.select("embedding").head().getSeq[Float](0).length
    graft.ops.IvfIndex.build(emb, "vec_id", "embedding", dir, dim)
    def r4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val vecs = emb.as[(Long, Seq[Float])].collect()
    val want = (for {
      (a, va) <- vecs; (b, vb) <- vecs if a < b
      c = r4(graft.ops.IvfIndex.cosineTo(va.toIndexedSeq, vb.toArray))
      if c >= 0.4
    } yield (a, b, c)).toSet
    for (s <- Seq(1, 4)) {
      val got = graft.ops.IvfIndex.pairs(spark, dir, 0.4, splitsPerList = s)
        .as[(Long, Long, Double)].collect()
      assert(got.length == got.toSet.size, s"dup pairs at splits=$s")
      assert(got.toSet == want, s"splits=$s")
    }
  }

  test("IVF pairs replication prunes on a tightly clustered corpus") {
    // 8 tight clusters far apart: a high threshold keeps every vector's
    // replica set at exactly its home list, so the blocked join does
    // ~1/8th of the all-pairs work while staying exact
    val rows = (0 until 240).map { i =>
      val v = Array.fill(16)(0.001f * (i % 5))
      v(i % 8) = 10f + (i % 7) * 0.01f
      (i.toLong, v.toSeq)
    }
    val emb = rows.toDF("vec_id", "embedding")
    val dir = scratch("ivfidx-pairs-tight")
    graft.ops.IvfIndex.build(emb, "vec_id", "embedding", dir, 16, nlist = 8)
    val lists = graft.ops.IvfIndex.readLists(spark, dir)
    val repCounts = rows.map { case (_, v) =>
      lists.count(li => graft.ops.IvfIndex.listBound(
        graft.ops.IvfIndex.cosineTo(v.toIndexedSeq, li.centroid),
        li.minCos) >= 0.95 - 5e-5 - 1e-12)
    }
    // perfectly resolved clustering would give home-only replication (=1);
    // the seeded k-means init may merge clusters, widening a list and
    // attracting extra replicas — so assert a robust pruning factor
    // instead: well under half of full cross-replication
    val full = rows.size * lists.length
    assert(repCounts.sum < full / 2,
      s"replication ${repCounts.sum} is not pruning vs full $full")
    def r4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val want = (for {
      (a, va) <- rows; (b, vb) <- rows if a < b
      c = r4(graft.ops.IvfIndex.cosineTo(va.toIndexedSeq, vb.toArray))
      if c >= 0.95
    } yield (a, b, c)).toSet
    val got = graft.ops.IvfIndex.pairs(spark, dir, 0.95)
      .as[(Long, Long, Double)].collect().toSet
    assert(got == want)
    assert(want.nonEmpty)
  }

  // ---- corpus curation --------------------------------------------------

  test("deduplicate keeps cluster minima and drops the rest") {
    // planted: 200/201 are byte-identical to 5/6 (jaccard 1.0); 202 is a
    // FIRST-word edit of 7 — the first token sits in exactly one 3-gram
    // shingle, so jaccard = 27/29 ~ 0.93 >= 0.9 and 202 is a duplicate too.
    // All three clusters keep their minimum id.
    val kept = graft.ops.Corpus
      .deduplicate(planted, "doc_id", "text", threshold = 0.9)
      .select("doc_id").as[Long].collect().toSet
    assert(Set(200L, 201L, 202L).forall(!kept.contains(_)))
    assert(Set(5L, 6L, 7L).forall(kept.contains))
    assert(kept.size == 200) // 203 docs - 3 dropped duplicates
  }

  test("sampleBalanced matches a driver-side md5 threshold exactly") {
    val df = ((0 until 1000).map(i => (i.toLong, "big")) ++
      (1000 until 1050).map(i => (i.toLong, "small")))
      .toDF("doc_id", "lang")
    def hv(id: Long, s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$id:$s".getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(3).map(b => f"$b%02x").mkString, 16)
    }
    val expected = ((0 until 1000).filter(i =>
        BigInt(hv(i, "big")) * 1000 < BigInt(100L) * 16777216L).map(_.toLong) ++
      (1000L until 1050L)).toSet // small stratum (50 <= cap) all kept
    val got = graft.ops.Corpus.sampleBalanced(df, "doc_id", "lang", 100L)
      .select("doc_id").as[Long].collect().toSet
    assert(got == expected)
    // sanity on the shape: the big stratum landed near its expected cap
    val big = got.count(_ < 1000)
    assert(big >= 60 && big <= 140, s"big stratum kept $big of expected ~100")
  }

  test("packShards equals the global cumsum and is partition-count invariant") {
    val docs = (0 until 300).map { i =>
      val n = (graft.util.Hashing.mix(11L, i) % 40 + 40) % 40
      (i.toLong, if (i == 137) null else Seq.fill(n.toInt + 1)("tok").mkString(" "))
    }.toDF("doc_id", "text")
    val expected = {
      var acc = 0L
      docs.as[(Long, String)].collect().sortBy(_._1).map { case (id, t) =>
        val tok = if (t == null) 0L
          else graft.text.Tokenize.tokenizeScala(t).length.toLong
        val s = acc / 500L; acc += tok; (id, s)
      }.toMap
    }
    for (p <- Seq(1, 4, 32)) {
      val got = graft.ops.Corpus
        .packShards(docs, "doc_id", "text", budget = 500L, partitions = p)
        .as[(Long, Long)].collect().toMap
      assert(got == expected, s"partitions=$p")
    }
  }

  test("Curate CLI pipeline: dedup -> sample -> pack end-to-end") {
    // planted corpus + a lang column (two strata); cap 80 forces the 150-doc
    // stratum to downsample while the small one keeps every row
    val withLang = planted.withColumn("lang",
      when(col("doc_id") % 4 === 0, "sm").otherwise("bg"))
    val root = java.nio.file.Files.createTempDirectory("curate").toString
    withLang.write.mode("overwrite").parquet(s"$root/in")
    val out = graft.ops.Curate.run(spark, Seq(
      "pipeline", s"parquet:$root/in", s"$root/out",
      "--threshold", "0.9", "--cap", "80", "--budget", "2000"))
    assert(out.columns.toSet == Set("doc_id", "text", "lang", "shard"))
    val rows = out.select("doc_id", "lang", "shard")
      .as[(Long, String, Long)].collect()
    // duplicates dropped before sampling
    assert(!rows.exists(r => Set(200L, 201L, 202L).contains(r._1)))
    // per-stratum caps respected in expectation (binomial around 80)
    val byLang = rows.groupBy(_._2).map { case (l, rs) => l -> rs.length }
    assert(byLang("bg") <= 120 && byLang("bg") >= 45, byLang.toString)
    // shards are the contiguous prefix 0..max over the kept id order
    val shards = rows.sortBy(_._1).map(_._3)
    assert(shards.head == 0L && shards.sameElements(shards.sorted))
    assert(shards.distinct.length == shards.max + 1)
    // single-op commands write too
    graft.ops.Curate.run(spark, Seq(
      "sample", s"parquet:$root/in", s"$root/sample", "--cap", "80"))
    assert(spark.read.parquet(s"$root/sample").columns.toSet ==
      Set("doc_id", "lang"))
  }

  test("redactPii replaces emails, IPs, phones and counts each category") {
    val df = Seq(
      (0L, "mail bob.smith+x@corp.example.org then 10.0.0.7 and 415-555-0001"),
      (1L, "no pii here at all"),
      (2L, "two ips 192.168.1.1 8.8.8.8 and a@b.co"),
      (3L, "v1.2.3.4 is a version inside a token, not an ip"),
      (4L, "555.123.4567 dotted phone")).toDF("doc_id", "text")
    val got = TextAnalysis.redactPii(df, "doc_id", "text")
      .as[(Long, String, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(got(0L)._2 == "mail <EMAIL> then <IP> and <PHONE>")
    assert((got(0L)._3, got(0L)._4, got(0L)._5) == (1L, 1L, 1L))
    assert(got(1L)._2 == "no pii here at all")
    assert((got(1L)._3, got(1L)._4, got(1L)._5) == (0L, 0L, 0L))
    assert(got(2L)._2 == "two ips <IP> <IP> and <EMAIL>")
    assert((got(2L)._3, got(2L)._4) == (1L, 2L))
    // \b guards: digits glued to letters are not an IP
    assert(got(3L)._2.contains("v1.2.3.4"))
    assert(got(3L)._4 == 0L)
    // dotted NANP form matches the phone pattern (and not the IP pattern:
    // 4567 exceeds the 3-digit octet bound)
    assert(got(4L)._2 == "<PHONE> dotted phone")
  }

  test("repetitionStats: top-token and duplicate-bigram fractions") {
    val df = Seq(
      (0L, "a a a b"), // top 3/4; bigrams: aa,aa,ab -> 1 - 2/3
      (1L, "x y z w"), // no repetition
      (2L, "solo"), // single token: no bigrams -> 0.0
      (3L, ""), // empty -> all zeros
      (4L, "p q p q p q")) // bigrams pq,qp,pq,qp,pq -> 1 - 2/5
      .toDF("doc_id", "text")
    val got = TextAnalysis.repetitionStats(df, "doc_id", "text")
      .as[(Long, Long, Double, Double)].collect().map(r => r._1 -> r).toMap
    assert(got(0L) == ((0L, 4L, 0.75, 0.3333)))
    assert(got(1L) == ((1L, 4L, 0.25, 0.0)))
    assert(got(2L) == ((2L, 1L, 1.0, 0.0)))
    assert(got(3L) == ((3L, 0L, 0.0, 0.0)))
    assert(got(4L) == ((4L, 6L, 0.5, 0.6)))
  }

  test("kwic clips the window at both document edges") {
    val df = Seq(
      (0L, "spark at the very start of this doc"),
      (1L, "ending a document with the word spark"),
      (2L, "one two three spark five six seven eight"),
      (3L, "no match here")).toDF("doc_id", "text")
    val got = TextAnalysis.kwic(df, "doc_id", "text", "spark", window = 2)
      .as[(Long, Long, String)].collect().map(r => r._1 -> r).toMap
    assert(got(0L) == ((0L, 0L, "spark at the")))
    assert(got(1L) == ((1L, 6L, "the word spark")))
    assert(got(2L) == ((2L, 3L, "two three spark five six")))
    assert(!got.contains(3L))
  }

  test("kwic reports the FIRST occurrence") {
    val df = Seq((0L, "a spark b c spark d")).toDF("doc_id", "text")
    val got = TextAnalysis.kwic(df, "doc_id", "text", "spark", window = 1)
      .as[(Long, Long, String)].head()
    assert(got == ((0L, 1L, "a spark b")))
  }

  test("bigramCounts orders by count desc then bigram asc") {
    val df = Seq(
      (0L, "a b a b c d"), // ab:2 (ba:1, bc:1, cd:1)
      (1L, "c d x")) // cd:1 -> 2 total, dx:1
      .toDF("doc_id", "text")
    val got = TextAnalysis.bigramCounts(df, "text", topN = 3)
      .as[(String, Long)].collect().toSeq
    assert(got == Seq(("a b", 2L), ("c d", 2L), ("b a", 1L)))
  }

  test("collocations: hand-computed PMI, tie order, and the min-count guard") {
    // tokens a:3 b:2 c:1 (T_tok 6); bigrams "a b":2 "a c":1 (T_bi 3)
    // pmi(a b) = ln((2/3)/((3/6)*(2/6))) = ln 4; pmi(a c) = ln((1/3)/
    // ((3/6)*(1/6))) = ln 4 — equal, so the tie breaks on bigram text
    val df = Seq((0L, "a b"), (1L, "a b"), (2L, "a c")).toDF("doc_id", "text")
    val got = TextAnalysis.collocations(df, "text", minCount = 1, topN = 10)
      .as[(String, Long, Double)].collect().toSeq
    val ln4 = BigDecimal(math.log(4.0))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got == Seq(("a b", 2L, ln4), ("a c", 1L, ln4)))
    val filtered = TextAnalysis.collocations(df, "text", minCount = 2, topN = 10)
      .as[(String, Long, Double)].collect().toSeq
    assert(filtered == Seq(("a b", 2L, ln4)))
  }

  test("keywords: hand-computed tf-idf ranks, bounded k, rounded-tie order") {
    // N=3; df a:2 b:2 c:1; idf ln(1.5)=0.4055, ln(3)=1.0986 (rounded 4)
    val df = Seq((0L, "a a b"), (1L, "b c"), (2L, "a")).toDF("doc_id", "text")
    def r4(x: Double) = BigDecimal(x)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val sA1 = r4(math.log(3.0 / 2)) // tf=1 on a or b
    val sA2 = r4(2 * math.log(3.0 / 2)) // doc0's a, tf=2
    val sC = r4(math.log(3.0 / 1))
    val all = TextAnalysis.keywords(df, "doc_id", "text", k = 3)
      .as[(Long, String, Double)].collect().toSet
    assert(all == Set((0L, "a", sA2), (0L, "b", sA1),
      (1L, "c", sC), (1L, "b", sA1), (2L, "a", sA1)))
    val top1 = TextAnalysis.keywords(df, "doc_id", "text", k = 1)
      .as[(Long, String, Double)].collect().toSet
    assert(top1 == Set((0L, "a", sA2), (1L, "c", sC), (2L, "a", sA1)))
  }

  test("percolate: hand-computed matches for term/boolean/phrase/prefix queries") {
    val df = Seq(
      (0L, "spark vector x"), (1L, "spark"), (2L, "merge a"),
      (3L, "sort dup"), (4L, "sort b"), (5L, "order sort x"),
      (6L, "sort order")).toDF("doc_id", "text")
    val got = graft.query.Percolate.percolate(df, "doc_id", "text",
      Map(1 -> "spark AND vector",
        2 -> "merge OR (sort AND NOT dup)",
        3 -> "\"order sort\"",
        4 -> "vec* AND NOT dup"))
      .as[(Long, Int)].collect().toSet
    assert(got == Set((0L, 1),
      (2L, 2), (4L, 2), (5L, 2), (6L, 2),
      (5L, 3),
      (0L, 4)))
    assertThrows[graft.query.QueryParser.ParseException](
      graft.query.Percolate.percolate(df, "doc_id", "text",
        Map(1 -> "NOT spark")))
  }

  test("percolate: clause index prunes the candidate set at 1000+ registered queries") {
    // 1200 standing queries, each requiring a distinct term tNNN; only a
    // handful can ever match a doc holding 3 such terms. The inverted
    // term -> query map must keep evaluations near |docs| x |hits|, not
    // |docs| x |queries| — and the result must equal the brute-force
    // expectation exactly.
    val nq = 1200
    val queries = (1 to nq).map(i => i -> s"t$i AND NOT absent").toMap ++
      Map(nq + 1 -> "zz* OR t7") // a no-required-set residue query
    val docs = (0L until 100L)
      .map(i => (i, s"t${i * 3 % nq + 1} t${(i * 3 + 1) % nq + 1} prefix${i}x"))
      .toDF("doc_id", "text")
    graft.query.Percolate.evalCount.reset()
    val got = graft.query.Percolate
      .percolate(docs, "doc_id", "text", queries)
      .as[(Long, Int)].collect().toSet
    val expected = (0L until 100L).flatMap { i =>
      val terms = Set(s"t${i * 3 % nq + 1}", s"t${(i * 3 + 1) % nq + 1}")
      val hits = (1 to nq).filter(q => terms.contains(s"t$q")).map(i -> _)
      val resid = if (terms.contains("t7")) Seq(i -> (nq + 1)) else Nil
      hits ++ resid
    }.toSet
    assert(got == expected)
    val evals = graft.query.Percolate.evalCount.sum()
    // 100 docs x (2 term hits + 1 residue) = 300 expected evaluations;
    // allow slack for speculative/retried tasks, but far below 100 x 1201
    assert(evals <= 3000, s"candidate pruning ineffective: $evals evals")
  }

  test("dedupLines strips cross-doc lines, keeps order, handles all-boilerplate docs") {
    val df = Seq(
      (0L, "shared header\nunique zero\nshared footer"),
      (1L, "shared header\nunique one a\nunique one b\nshared footer"),
      (2L, "shared header\nshared footer"), // nothing survives
      (3L, "loner line\nanother loner")) // nothing removed
      .toDF("doc_id", "text")
    for (bcast <- Seq(true, false)) {
      val got = Dedup.dedupLines(df, "doc_id", "text", minDocs = 2, bcast)
        .as[(Long, String, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
      assert(got(0L) == (("unique zero", 1L + 1L)), got(0L))
      assert(got(1L) == (("unique one a\nunique one b", 2L)), got(1L))
      assert(got(2L) == (("", 2L)), got(2L)) // row KEPT, clean empty
      assert(got(3L) == (("loner line\nanother loner", 0L)), got(3L))
      assert(got.size == 4)
    }
  }

  test("dedupLines counts DISTINCT docs, not occurrences") {
    // the repeated line occurs 3 times but only within ONE doc -> kept
    val df = Seq(
      (0L, "rep\nrep\nrep\nbody"),
      (1L, "other")).toDF("doc_id", "text")
    val got = Dedup.dedupLines(df, "doc_id", "text", minDocs = 2)
      .as[(Long, String, Long)].collect().map(r => r._1 -> r._2).toMap
    assert(got(0L) == "rep\nrep\nrep\nbody")
  }
}
