package graft.util

import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal

/** Shared-filesystem staging for materialized intermediates.
  *
  * Any operator that writes an intermediate table for later read-back
  * (dedup shingle/signature tables, the streaming changelog, staged
  * stream-source copies) MUST stage it under a root that is shared
  * storage on a multi-node cluster: a driver-local `createTempDirectory`
  * path resolves to per-node local disks on the executors, so the staged
  * table would be scattered across machines and the read-back
  * wrong/partial. Root resolution: the explicit per-call argument, else
  * session conf `spark.graft.stagingDir`, else
  * `<spark.sql.warehouse.dir>/_graft_staging` (shared wherever the
  * warehouse is).
  *
  * One way to reserve a staged dir: [[scoped]] gives a call a [[Scope]],
  * and every dir the scope reserves is registered in a JVM-wide registry at
  * once, so the end-of-run [[dropStaged]] drain (end of `Verify`/`Bench`,
  * also a shutdown hook) covers a call that is stopped while it runs. Two
  * lifetimes:
  *  - call-scoped ([[Scope.temp]]): a staged INPUT or lineage cut that the
  *    returned result never reads is deleted and unregistered when the call
  *    returns or throws;
  *  - end of run ([[Scope.result]]): a dir that a returned (lazy) result
  *    reads is deleted if the call throws, and otherwise stays registered
  *    until the drain, so a long-lived session keeps one such dir per call
  *    until then.
  */
object Staging {

  def root(spark: SparkSession, explicit: Option[String] = None): String =
    explicit
      .orElse(spark.conf.getOption("spark.graft.stagingDir"))
      .getOrElse(spark.conf.get("spark.sql.warehouse.dir")
        .stripSuffix("/") + "/_graft_staging")

  private type Staged = (org.apache.hadoop.conf.Configuration, String)
  private val staged = new java.util.concurrent.ConcurrentLinkedQueue[Staged]()
  private val hookInstalled = new java.util.concurrent.atomic.AtomicBoolean(false)

  private val caches = new java.util.concurrent.ConcurrentLinkedQueue[
    org.apache.spark.sql.DataFrame]()

  /** Track a persisted intermediate whose natural lifetime is "until the
    * end of the run": operators whose RESULT stays lazy (so the cache must
    * outlive the call) register here instead of leaking the cache for the
    * session lifetime — the unscoped [[dropStaged]] drain (Bench/Verify end,
    * shutdown hook) unpersists them.
    */
  def registerCache(df: org.apache.spark.sql.DataFrame): Unit =
    caches.add(df): Unit

  /** Unpersist every registered cache (idempotent; unpersist of an already
    * released frame is a no-op).
    */
  def releaseCaches(): Unit = {
    var df = caches.poll()
    while (df != null) {
      try df.unpersist() catch { case NonFatal(_) => () }
      df = caches.poll()
    }
  }

  private def freshPath(spark: SparkSession, prefix: String,
      explicit: Option[String]): String =
    root(spark, explicit) + "/" + prefix + "-" +
      java.util.UUID.randomUUID().toString

  private def register(spark: SparkSession, path: String): Staged = {
    val e = (spark.sparkContext.hadoopConfiguration, path)
    staged.add(e)
    if (hookInstalled.compareAndSet(false, true))
      Runtime.getRuntime.addShutdownHook(new Thread(() => dropStaged()))
    e
  }

  /** Recursive delete; a NonFatal failure is logged and reported as false
    * (an InterruptedException or VM error is not eaten by cleanup).
    */
  private def delete(conf: org.apache.hadoop.conf.Configuration,
      path: String): Boolean =
    try {
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(conf).delete(p, true)
      true
    } catch {
      case NonFatal(ex) =>
        System.err.println(s"[graft-staging] failed to delete $path: $ex")
        false
    }

  /** The dirs one [[scoped]] call reserved, each registered as it is
    * reserved. Not thread-safe: reserve from the calling thread.
    */
  final class Scope private[Staging] (spark: SparkSession,
      explicit: Option[String]) {
    private[Staging] val temps = scala.collection.mutable.ArrayBuffer.empty[Staged]
    private[Staging] val results = scala.collection.mutable.ArrayBuffer.empty[Staged]

    private def reserve(prefix: String,
        into: scala.collection.mutable.ArrayBuffer[Staged]): String = {
      val e = register(spark, freshPath(spark, prefix, explicit))
      into += e
      e._2
    }

    /** A fresh dir for something the returned result never reads (a staged
      * input, a lineage cut): deleted when the scope ends, however it ends.
      */
    def temp(prefix: String): String = reserve(prefix, temps)

    /** A fresh dir that the returned result reads: left registered for the
      * end-of-run [[dropStaged]] drain if the scope returns, deleted like a
      * [[temp]] if it throws (there is no result to read it).
      */
    def result(prefix: String): String = reserve(prefix, results)
  }

  /** Run `f` with a call-scoped [[Scope]] (dirs under
    * `root(spark, explicit)`) and release its dirs in a `finally`. A dir
    * that fails to delete stays registered, so the end-of-run drain
    * retries it.
    */
  def scoped[T](spark: SparkSession, explicit: Option[String] = None)(
      f: Scope => T): T = {
    val s = new Scope(spark, explicit)
    var ok = false
    try { val r = f(s); ok = true; r }
    finally
      (if (ok) s.temps else s.temps ++ s.results).foreach { e =>
        if (delete(e._1, e._2)) staged.remove(e): Unit
      }
  }

  /** Delete the staged dirs this JVM registered. `under` scopes deletion
    * to staged dirs below one root (leaving other callers' staged tables
    * alive, e.g. concurrently running test suites). A dir that fails to
    * delete is RE-QUEUED so a later call can retry.
    */
  def dropStaged(under: Option[String] = None): Unit = {
    // the unscoped call is the end-of-run drain: release registered
    // caches too (an `under` call leaves them — their consumers may be lazy)
    if (under.isEmpty) releaseCaches()
    val keep = new java.util.ArrayList[Staged]()
    var e = staged.poll()
    while (e != null) {
      if (!under.forall(u => e._2.startsWith(u)) || !delete(e._1, e._2))
        keep.add(e)
      e = staged.poll()
    }
    staged.addAll(keep): Unit
  }
}
