package graft

import org.apache.spark.sql.SparkSession

/** Optimization-round measurement harness (guide §1.4): times each declared
  * query in isolation with the SAME methodology as [[Bench]] (warmed index
  * caches, noop sink, min over interleaved passes) but WITHOUT the scaling
  * probe / latency / build sections, so a measure-change-remeasure loop
  * runs in minutes instead of the full 48-minute bench window. [[Bench]]
  * itself stays frozen (driver contract).
  *
  * Usage: `sbt "runMain graft.BenchExtra [passes] [queryPrefix ...]"`
  *  - `passes` (default 3): full interleaved passes; per-query MIN printed.
  *    Each timed query prints `{"pass","q","sec","scored"}`, where
  *    `scored` is the query's exact BM25 scorings
  *    ([[graft.index.Searcher.scoredCount]] delta; 0 for non-BM25 queries).
  *  - `queryPrefix ...`: only queries whose name starts with one of these.
  *  - env `SPARK_GRAFT_SF_DIR` / `SPARK_GRAFT_CPUS`: as in Bench.
  *  - env `SPARK_GRAFT_EXPLAIN_DIR`: when set, each timed query's RETURNED
  *    plan is written there as `<name>.txt` (`explain("formatted")`), and
  *    operators that stage intermediates honor `spark.graft.explainDir` to
  *    dump their pre-staging plans too.
  */
object BenchExtra {
  private def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val passes = args.headOption.map(_.toInt).getOrElse(3)
    val prefixes = args.drop(1).toSeq
    val explainDir = sys.env.get("SPARK_GRAFT_EXPLAIN_DIR")

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"graft-benchextra-$cpus")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    explainDir.foreach { d =>
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d))
      spark.conf.set("spark.graft.explainDir", d)
    }

    // warm the same caches Bench warms so query timings are query timings
    val warm = Seq(
      "full" -> time(IndexCache.full(spark, sfDir))._2,
      "twowave" -> time(IndexCache.twoWave(spark, sfDir))._2,
      "ann" -> time(IndexCache.ann(spark, sfDir))._2,
      "ivf" -> time(IndexCache.ivf(spark, sfDir))._2,
      "pq" -> time(IndexCache.pq(spark, sfDir))._2,
      "trigram" -> time(IndexCache.trigram(spark, sfDir))._2)
    val (_, streamWarmSec) = time {
      val warmDir = java.nio.file.Files
        .createTempDirectory("graft-benchextra-warm").toString + "/w"
      spark.range(0, 64).selectExpr(
        "timestamp_seconds(1704067200 + id) AS ts",
        "'w' AS event_type", "CAST(id AS DOUBLE) AS value")
        .coalesce(1).write.parquet(warmDir)
      graft.streaming.StreamingOps
        .windowedEventCountsIncremental(spark, warmDir).count()
    }
    println(warm.map { case (k, v) => f""""cache_$k":$v%.3f""" }
      .mkString("{", ",", f""","stream_warm":$streamWarmSec%.3f}"""))

    val qNames = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => prefixes.isEmpty || prefixes.exists(n.startsWith) }
    val all = (0 until passes).map { pass =>
      val p = qNames.map { case (name, fn) =>
        spark.sparkContext.setJobDescription(s"$name pass $pass")
        val scored0 = graft.index.Searcher.scoredCount.sum()
        val (_, sec) = time {
          try {
            val df = fn(spark, sfDir)
            if (pass == 0) explainDir.foreach { d =>
              java.nio.file.Files.write(
                java.nio.file.Paths.get(d, s"$name.txt"),
                df.queryExecution.explainString(
                  org.apache.spark.sql.execution.FormattedMode)
                  .getBytes(java.nio.charset.StandardCharsets.UTF_8)): Unit
            }
            df.write.mode("overwrite").format("noop").save()
          } catch {
            case e: Throwable =>
              System.err.println(s"[benchextra] $name pass $pass: $e")
          }
        }
        spark.sparkContext.setJobDescription(null)
        val scored = graft.index.Searcher.scoredCount.sum() - scored0
        println(f"""{"pass":$pass,"q":"$name","sec":$sec%.3f,"scored":$scored}""")
        name -> sec
      }
      println(f"""{"pass":$pass,"pass_total_sec":${p.map(_._2).sum}%.3f}""")
      p
    }
    val mins = qNames.zipWithIndex.map { case ((name, _), i) =>
      name -> all.map(_(i)._2).min
    }
    val qs = mins.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    println(f"""{"extra_total_min_sec":${mins.map(_._2).sum}%.3f,"queries_min":$qs}""")
    graft.util.Staging.dropStaged()
    spark.stop()
  }
}
