package graft

import graft.index._
import graft.text.{HtmlText, Tokenize}
import org.apache.spark.sql.functions._

/** Degenerate-input behavior: the engine must never crash on real webtext
  * (nulls, unicode, huge docs, all-empty corpora) — it may only lose
  * non-[a-z0-9] tokens, which is tokenizer spec v1's documented contract.
  */
class RobustnessSpec extends SparkSpec {
  import spark.implicits._

  test("tokenizer v1 on unicode/CJK/emoji: keeps ASCII alnum runs, never throws") {
    assert(Tokenize.tokenizeScala("Hello, WORLD! 42x").toSeq == Seq("hello", "world", "42x"))
    assert(Tokenize.tokenizeScala("café naïve").toSeq == Seq("caf", "na", "ve"))
    assert(Tokenize.tokenizeScala("中文文本 abc").toSeq == Seq("abc"))
    assert(Tokenize.tokenizeScala("😀 emoji😀mix").toSeq == Seq("emoji", "mix"))
    assert(Tokenize.tokenizeScala("").isEmpty)
    // column form agrees on the same inputs
    val rows = Seq("Hello, WORLD! 42x", "café naïve",
      "中文文本 abc", "").toDF("text")
    val got = rows.select(Tokenize.col(col("text"))).as[Seq[String]].collect()
    val want = Seq("Hello, WORLD! 42x", "café naïve",
      "中文文本 abc", "").map(Tokenize.tokenizeScala(_).toSeq)
    assert(got.map(_.toSeq).toSeq == want)
  }

  test("hand-rolled tokenizer is byte-identical to the regex reference (property)") {
    // seeded random strings mixing ASCII alnum, punctuation, unicode,
    // surrogate pairs and case — the fast scanner must equal the regex form
    val alphabet = "aZ09 \t.,;!-_/\\\"'é中😀xQ3"
    val rnd = new scala.util.Random(42)
    (0 until 2000).foreach { _ =>
      val s = (0 until rnd.nextInt(60)).map(_ =>
        alphabet.charAt(rnd.nextInt(alphabet.length))).mkString
      assert(Tokenize.tokenizeScala(s).toSeq == Tokenize.tokenizeRegex(s).toSeq,
        s"input=${s.map(_.toInt).mkString(",")}")
    }
    // boundary shapes
    for (s <- Seq("", "a", "A", "1", ".", "..a..", "a.", ".a", "ABC123xyz",
        "😀", "a😀b"))
      assert(Tokenize.tokenizeScala(s).toSeq == Tokenize.tokenizeRegex(s).toSeq, s)
  }

  test("html extractor survives malformed markup") {
    assert(HtmlText.extract("<p>unclosed") == "unclosed")
    assert(HtmlText.extract("no tags at all") == "no tags at all")
    assert(HtmlText.extract("<script>evil()</script>hi") == "hi")
    assert(HtmlText.extract("a &amp; b &lt;c&gt;") == "a & b <c>")
    assert(HtmlText.extract(Array.empty[Byte]) == "")
  }

  test("index build handles null text, empty corpus slices, and 1-doc corpora") {
    val docs = Seq(
      (0L, "k0", null.asInstanceOf[String]),
      (1L, "k1", ""),
      (2L, "k2", "only doc with words"),
      (3L, "k3", "!!!???")).toDF("docId", "key", "text")
    val dir = scratch("degenerate")
    val m = IndexBuilder.build(spark, docs, dir, IndexOptions(docsPerSegment = 2))
    assert(m.totalDocs == 4)
    assert(m.totalTokens == 4)
    val s = new Searcher(spark, dir)
    assert(s.lookup("doc").count() == 1)
    assert(s.bm25(Seq("only", "words"), 5).count() == 1)
    // single-doc index
    val dir1 = scratch("onedoc")
    IndexBuilder.build(spark, Seq((0L, "k", "solo")).toDF("docId", "key", "text"), dir1)
    assert(new Searcher(spark, dir1).lookup("solo").count() == 1)
  }

  test("empty corpus builds an empty but queryable index") {
    val dir = scratch("empty")
    val m = IndexBuilder.build(spark,
      Seq.empty[(Long, String, String)].toDF("docId", "key", "text"), dir)
    assert(m.totalDocs == 0)
    val s = new Searcher(spark, dir)
    assert(s.lookup("anything").count() == 0)
    assert(s.bm25(Seq("anything"), 5).count() == 0)
  }

  test("CLI arg validation fails fast with usage errors, not deep NPEs") {
    val docsSpec = "parquet:/root/testdata/sf0.001/documents.parquet"
    val e1 = intercept[Exception] {
      graft.ops.Curate.run(spark,
        Seq("frobnicate", docsSpec, scratch("curate-bad")))
    }
    assert(e1.getMessage.contains("unknown curate command"))
    val e2 = intercept[IllegalArgumentException] {
      graft.ops.Curate.run(spark, Seq("dedup"))
    }
    assert(e2.getMessage.contains("usage"))
    // unknown scheme falls back to bare-path parquet and fails on read,
    // not with an opaque match error
    intercept[Exception] {
      graft.sources.CorpusSource.load(spark, "giraffe:/what").count()
    }
  }

  test("stream-batch high-water mark survives manifest round-trip and compaction copy") {
    val dir = scratch("hwm")
    val m = IndexBuilder.build(spark,
      Seq((0L, "k", "alpha beta")).toDF("docId", "key", "text"), dir,
      streamBatch = 41L)
    assert(m.lastStreamBatch == 41L)
    assert(ManifestIO.read(dir).lastStreamBatch == 41L)
    // append without a stream batch keeps the mark; with a newer one, advances
    IndexBuilder.append(spark,
      Seq((1L, "k2", "beta gamma")).toDF("docId", "key", "text"), dir)
    assert(ManifestIO.read(dir).lastStreamBatch == 41L)
    IndexBuilder.append(spark,
      Seq((2L, "k3", "gamma delta")).toDF("docId", "key", "text"), dir,
      streamBatch = 43L)
    assert(ManifestIO.read(dir).lastStreamBatch == 43L)
    graft.index.Compactor.compact(spark, dir)
    assert(ManifestIO.read(dir).lastStreamBatch == 43L,
      "compaction's manifest rewrite must carry the mark through")
    // batch-only manifests keep emitting no mark field at all
    val dir2 = scratch("hwm-none")
    IndexBuilder.build(spark,
      Seq((0L, "k", "solo")).toDF("docId", "key", "text"), dir2)
    val txt = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir2, ManifestIO.FileName)), "UTF-8")
    assert(!txt.contains("lastStreamBatch"))
    assert(ManifestIO.read(dir2).lastStreamBatch == -1L)
  }

  test("huge single document round-trips (100k tokens)") {
    val big = (0 until 100000).map(i => s"t${i % 5000}").mkString(" ")
    val dir = scratch("bigdoc")
    val m = IndexBuilder.build(spark,
      Seq((0L, "big", big)).toDF("docId", "key", "text"), dir)
    assert(m.totalTokens == 100000)
    val s = new Searcher(spark, dir)
    assert(s.lookup("t4999").count() == 1)
    assert(s.phrase(Seq("t0", "t1")).count() == 1)
  }

  test("jaccardPairs rejects thresholds outside (0, 1]") {
    val docs = Seq((1L, "a b c d"), (2L, "a b c e")).toDF("doc_id", "text")
    for (t <- Seq(0.0, -0.5, 1.5, Double.NaN)) {
      val e = intercept[IllegalArgumentException] {
        graft.ops.Dedup.jaccardPairs(docs, "doc_id", "text", n = 2, threshold = t)
      }
      assert(e.getMessage.contains("threshold"), s"t=$t")
    }
    // both ends of the domain still run
    assert(graft.ops.Dedup.jaccardPairs(docs, "doc_id", "text", n = 2,
      threshold = 1.0).count() == 0)
    assert(graft.ops.Dedup.jaccardPairs(docs, "doc_id", "text", n = 2,
      threshold = 0.01).count() == 1)
  }

  test("vector-index params sidecars round-trip; a PQ sidecar without rows reads as -1") {
    import graft.ops.{AnnIndex, IvfIndex, PqIndex}
    val dir = scratch("params")
    val ann = AnnIndex.Params(dim = 8, tables = 16, planes = 4, seed = 42L)
    ParamsIO.write(spark, s"$dir/ann_params.json", ann)
    assert(AnnIndex.readParams(spark, dir) == ann)
    val ivf = IvfIndex.Params(dim = 8, nlist = 4, seed = -3L, iters = 10)
    ParamsIO.write(spark, s"$dir/ivf_params.json", ivf)
    assert(IvfIndex.readParams(spark, dir) == ivf)
    // compact JSON in declaration order: the sidecar layout on disk
    assert(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "ivf_params.json")), "UTF-8") ==
      """{"dim":8,"nlist":4,"seed":-3,"iters":10}""")
    val pq = PqIndex.PqParams(dim = 8, m = 4, ks = 16, seed = 7L, iters = 5,
      rows = 1L << 33)
    ParamsIO.write(spark, s"$dir/pq/pq_params.json", pq)
    assert(PqIndex.readParams(spark, dir) == pq)
    assert(ParamsIO.read(spark, s"$dir/pq/pq_params.json") == Map("dim" -> 8L,
      "m" -> 4L, "ks" -> 16L, "seed" -> 7L, "iters" -> 5L, "rows" -> (1L << 33)))
    // a sidecar written before PqParams carried `rows`
    val legacy = new org.apache.hadoop.fs.Path(s"$dir/pq/pq_params.json")
    val out = legacy.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .create(legacy, true)
    out.write("""{"dim":8,"m":4,"ks":16,"seed":7,"iters":5}""".getBytes("UTF-8"))
    out.close()
    assert(PqIndex.readParams(spark, dir) == pq.copy(rows = -1L))
  }

  test("top-k and top-n search operators reject a non-positive k or n") {
    val dir = scratch("domains")
    IndexBuilder.build(spark,
      (0L until 40L).map(i => (i, i.toString, s"alpha beta${i % 3}"))
        .toDF("docId", "key", "text"), dir)
    val s = new Searcher(spark, dir)
    for (v <- Seq(0, -1)) {
      def rejects(param: String)(run: => Any): Unit = {
        val e = intercept[IllegalArgumentException](run)
        assert(e.getMessage.contains(s"$param must be positive"), s"$param=$v")
      }
      rejects("k")(s.bm25(Seq("alpha"), v))
      rejects("k")(s.moreLikeThis(Seq("alpha"), 0L, v))
      rejects("n")(s.suggest("b", v))
      rejects("n")(s.facets(Seq("alpha"), v))
    }
    // the smallest valid value still answers
    assert(s.bm25(Seq("alpha"), 1).count() == 1)
    assert(s.moreLikeThis(Seq("alpha"), 0L, 1).count() == 1)
    assert(s.suggest("b", 1).count() == 1)
    assert(s.facets(Seq("alpha"), 1).count() == 1)
  }
}
