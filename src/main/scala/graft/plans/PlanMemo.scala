package graft.plans

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.storage.StorageLevel

/** Session-scoped memo for materialized intermediate tables shared by
  * several registered queries (verified near-dup pairs, the doc-term
  * frequency table, k-means assignments, …).
  *
  * Identity is (session, input plan, params). The input plan is
  * bucketed by `semanticHash()` — a 32-bit hash — and CONFIRMED with
  * `sameResult` before reuse, mirroring Spark's own CacheManager: a
  * hash collision between two different inputs must never return the
  * wrong table. Entries persist MEMORY_AND_DISK on insert and are
  * evicted (unpersisted, dropped) when the owning SparkContext stops —
  * one listener is attached per context on first use. Sessions sharing
  * a context (newSession/cloneSession) are NOT individually reaped on
  * session close; a long-lived multi-corpus driver should call
  * [[evict]] (per session) or [[clearAll]] between corpora. As an
  * automatic backstop for drivers that never do, entries are LRU-capped
  * PER CONTEXT ([[PlanMemo.MaxPerContext]]): inserting beyond the cap
  * unpersists and drops the least-recently-used entry of that context,
  * so a driver spawning short-lived sessions in a loop plateaus at a
  * bounded persisted footprint instead of growing until application
  * end. A memo whose values are large driver-held data (not persisted
  * frames) passes a smaller `maxEntries`.
  *
  * `build` must only CONSTRUCT the plan (all Spark transformations are
  * lazy); the coarse lock therefore serializes only driver-side plan
  * assembly, never job execution.
  */
final class PlanMemo[P, V](persistables: V => Seq[DataFrame],
    maxEntries: Int = PlanMemo.MaxPerContext) {

  private val map =
    new ConcurrentHashMap[(SparkSession, Int, P), List[(LogicalPlan, V)]]()
  private val hooked =
    ConcurrentHashMap.newKeySet[org.apache.spark.SparkContext]()
  // access-ordered key list for the per-context LRU cap; guarded by
  // the same lock as `map`
  private val lru =
    scala.collection.mutable.LinkedHashSet.empty[(SparkSession, Int, P)]

  /** Lock-cheap lookup WITHOUT building: the check half of the
    * check-then-compute-then-insert idiom for memo values whose
    * computation RUNS A JOB (e.g. a corpus count). `getOrCompute`'s
    * contract is that `build` only constructs plans — a job inside the
    * coarse lock would serialize every concurrent session on it — so
    * job-running callers peek first, compute outside the lock on a
    * miss, and insert the finished value via `getOrCompute` (whose
    * build then just returns it). A lost race costs one duplicate job,
    * never a wrong value (both racers computed from the same plan). */
  def peek(df: DataFrame, params: P): Option[V] = synchronized {
    val key = (df.sparkSession, df.queryExecution.analyzed.semanticHash(), params)
    map.getOrDefault(key, Nil)
      .find(_._1.sameResult(df.queryExecution.analyzed)).map(_._2)
  }

  def getOrCompute(df: DataFrame, params: P)(build: => V): V =
    synchronized {
      val spark = df.sparkSession
      val plan = df.queryExecution.analyzed
      val key = (spark, plan.semanticHash(), params)
      val entries = map.getOrDefault(key, Nil)
      entries.find(_._1.sameResult(plan)) match {
        case Some((_, v)) =>
          lru.remove(key); lru.add(key)
          v
        case None =>
          val v = build
          persistables(v).foreach(_.persist(StorageLevel.MEMORY_AND_DISK))
          map.put(key, (plan, v) :: entries)
          lru.remove(key); lru.add(key)
          capContext(spark.sparkContext, keep = key)
          hookSession(spark)
          v
      }
    }

  /** Evict least-recently-used entries of `ctx` until at most
    * `maxEntries` remain (never the just-inserted
    * `keep`). Caller holds the lock. */
  private def capContext(ctx: org.apache.spark.SparkContext,
      keep: (SparkSession, Int, P)): Unit = {
    var excess = lru.count(_._1.sparkContext eq ctx) - maxEntries
    while (excess > 0) {
      // LinkedHashSet iterates oldest-first
      lru.find(k => (k._1.sparkContext eq ctx) && k != keep) match {
        case Some(victim) =>
          lru.remove(victim)
          Option(map.remove(victim)).getOrElse(Nil).foreach { case (_, v) =>
            persistables(v).foreach { d =>
              try d.unpersist(blocking = false)
              catch { case _: Exception => () }
            }
          }
          excess -= 1
        case None => excess = 0
      }
    }
  }

  /** Drop (and unpersist) every entry belonging to `spark`. */
  def evict(spark: SparkSession): Unit = synchronized {
    val dead = map.keySet.asScala.filter(_._1 eq spark).toList
    dead.foreach { k =>
      lru.remove(k)
      Option(map.remove(k)).getOrElse(Nil).foreach { case (_, v) =>
        persistables(v).foreach { d =>
          try d.unpersist(blocking = false)
          catch { case _: Exception => () } // context may already be down
        }
      }
    }
  }

  /** Drop every entry across all sessions (multi-dataset drivers). */
  def clearAll(): Unit = synchronized {
    map.keySet.asScala.map(_._1).toSet.foreach(evict)
  }

  private def hookSession(spark: SparkSession): Unit = {
    val ctx = spark.sparkContext
    if (hooked.add(ctx)) { // one listener per context lifetime
      ctx.addSparkListener(new SparkListener {
        override def onApplicationEnd(
            end: SparkListenerApplicationEnd): Unit = {
          clearAll()
          // un-pin the stopped context: leaving it in `hooked` would
          // strongly retain every cycled SparkContext (and its object
          // graph) for the process lifetime in a driver that stops and
          // recreates contexts; the listener itself dies with the
          // context's bus
          hooked.remove(ctx)
        }
      })
    }
  }
}

object PlanMemo {
  /** Per-SparkContext entry cap (LRU beyond it). Far above the ~4
    * memoized builds a single corpus session creates; small enough
    * that a driver looping newSession() per corpus holds at most this
    * many persisted intermediates instead of one set per session. */
  val MaxPerContext = 64
}
