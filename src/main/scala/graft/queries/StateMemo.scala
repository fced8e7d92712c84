package graft.queries

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import graft.pipeline.StageStore
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** The one memo registry behind every cross-query cache in `queries/`:
  * trained models, split ids, state-table names and the checkpointed
  * corpus frames the bench amortizes across queries.
  *
  * An entry is keyed by `(name, session, dir)` plus the dir's
  * [[StageStore.contentFingerprint]], so a value is only ever served for
  * the input content it was built from: a rewritten input dir rebuilds,
  * and the stale entries of that pair are dropped and unpersisted.
  *
  * Eviction: checkpointed frames stay pinned in block storage while the
  * registry references them, so while more than [[MaxPairs]]
  * `(session, dir)` pairs are held, every entry of the pairs other than the
  * current one is dropped and its frames unpersisted. The current pair's
  * entries for the current content are never evicted: a build in flight
  * may be holding its siblings.
  * This assumes sequential callers (Bench and Verify run queries one at a
  * time): a frame evicted mid-job by a concurrent caller would lose its
  * blocks with no lineage to recompute.
  */
object StateMemo {

  private val MaxPairs = 3

  private final case class Key(name: String, s: SparkSession, d: String, fp: String)

  /** One lazily built value. The build runs outside the map (builds nest:
    * a tf-frame build reads the token frame, a residual codebook the
    * residual frame), and ConcurrentHashMap rejects a recursive update.
    */
  private final class Cell(build: () => Any) {
    @volatile private var value: Option[Any] = None
    def get: Any = synchronized {
      value.getOrElse { val v = build(); value = Some(v); v }
    }
    def built: Option[Any] = value
  }

  private val cells = new ConcurrentHashMap[Key, Cell]()
  private val hits = new ConcurrentHashMap[String, AtomicLong]()
  private val misses = new ConcurrentHashMap[String, AtomicLong]()

  /** The bench's cross-query memo flag. Verify leaves it off, so the
    * correctness gate always recomputes from scratch.
    */
  def sharing(s: SparkSession): Boolean =
    s.conf.get("spark.graft.dedup.sharePairs", "false").toBoolean

  /** The memoized value of `build` for `(name, s, d)`, built on first use. */
  def apply[V](name: String, s: SparkSession, d: String)(build: => V): V = {
    val fp = StageStore.contentFingerprint(s, d)
    evict(s, d, fp)
    val key = Key(name, s, d, fp)
    var created = false
    val cell = cells.computeIfAbsent(key, _ => { created = true; new Cell(() => build) })
    (if (created) misses else hits).computeIfAbsent(name, _ => new AtomicLong).incrementAndGet()
    try cell.get.asInstanceOf[V]
    catch { case e: Throwable => cells.remove(key, cell); throw e }
  }

  /** [[apply]] under [[sharing]]; a fresh build when the flag is off. A
    * build whose recompute shape differs from its memo shape branches on
    * [[sharing]] and still calls this in its flag-on arm, so every
    * flag-gated memo is named here (ScaleOpsSpec checks each is built).
    */
  def shared[V](name: String, s: SparkSession, d: String)(build: => V): V =
    if (sharing(s)) apply(name, s, d)(build) else build

  /** (hits, misses) summed over `names`. */
  def counts(names: String*): (Long, Long) = {
    def sum(m: ConcurrentHashMap[String, AtomicLong]) =
      names.map(n => Option(m.get(n)).fold(0L)(_.get)).sum
    (sum(hits), sum(misses))
  }

  /** "hits/misses" summed over `names`. */
  def stats(names: String*): String = {
    val (h, m) = counts(names: _*)
    s"$h/$m"
  }

  /** "name=hits/misses" per name, comma-joined; every name seen when empty. */
  def summary(names: String*): String =
    (if (names.nonEmpty) names else misses.keySet.asScala.toSeq.sorted)
      .map(n => s"$n=${stats(n)}").mkString(",")

  /** Drop every entry and unpersist its frames. */
  private[graft] def clear(): Unit = drop(_ => true)

  private def evict(s: SparkSession, d: String, fp: String): Unit = synchronized {
    val pairs = cells.keySet.asScala.map(k => (k.s, k.d)).size
    drop(k => if (k.s == s && k.d == d) k.fp != fp else pairs > MaxPairs)
  }

  private def drop(stale: Key => Boolean): Unit = synchronized {
    cells.entrySet.asScala.filter(e => stale(e.getKey)).toSeq.foreach { e =>
      cells.remove(e.getKey, e.getValue)
      e.getValue.built.foreach(unpersistDeep)
    }
  }

  /** Unpersist every checkpointed frame inside an evicted value (frames
    * ride alone or in tuples). A `localCheckpoint(true)` plan is a
    * `LogicalRDD` over the persisted RDD — unpersist THAT rdd; `df.rdd`
    * would wrap it in a fresh deserializing RDD whose unpersist frees
    * nothing.
    */
  private def unpersistDeep(v: Any): Unit = v match {
    case df: Dataset[_] =>
      df.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd }
        .foreach(_.unpersist(blocking = false))
    case it: Iterable[_] => it.foreach(unpersistDeep) // before Product: a
      // List's cons cells are Products — iterating avoids spine recursion
    case p: Product => p.productIterator.foreach(unpersistDeep)
    case _ => ()
  }
}
