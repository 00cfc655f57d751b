package graft.core

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset}

/** One per-key memo of built state (a persisted frame, a fitted model, an
  * on-disk layout). `memo(key)(build)` runs `build` at most once per key,
  * even when several threads ask for the key at once: each key maps to one
  * lazy holder, and every caller of that key waits on the same holder. The
  * build runs outside the map's own locks, so a build that asks another
  * memo (a full-beam model built from the fitted one) neither deadlocks
  * nor trips `ConcurrentHashMap`'s recursive-update check. A build that
  * throws leaves no entry behind.
  *
  * `release` is how a value is given up (unpersist a frame or model, delete
  * a directory). [[clear]] releases every entry exactly once, and a hit
  * that fails its caller's validity check is released before the rebuild.
  * A release that throws is ignored: a model of a stopped session can no
  * longer unpersist, and the sweep must still reach the other entries.
  * A memo made with `new Memo` is reached only through its own [[clear]];
  * one made through [[Memo.apply]] is also released by [[Memo.release]] for
  * its owner and by [[Memo.releaseAll]]. */
final class Memo[K, V](release: V => Unit) {

  private final class Cell(private[this] var build: () => V) {
    @volatile private[this] var value: Option[V] = None

    def force(): V = {
      val v = value
      if (v.isDefined) v.get
      else synchronized {
        if (value.isEmpty) { value = Some(build()); build = null }
        value.get
      }
    }

    /** Waits for a build in flight, then releases what it built. */
    def drop(): Unit = synchronized {
      value.foreach(v => try release(v) catch { case NonFatal(_) => () })
    }
  }

  private val cells = new ConcurrentHashMap[Any, Cell]

  def apply(key: K)(build: => V): V = apply(key, Memo.anyValue)(build)

  /** As `apply(key)(build)`, but a hit for which `valid` is false is
    * released and built again. A value this call built is not checked. */
  @annotation.tailrec
  def apply(key: K, valid: V => Boolean)(build: => V): V = {
    var cell = cells.get(key)
    var mine = false
    if (cell == null) {
      val fresh = new Cell(() => build)
      cell = cells.putIfAbsent(key, fresh)
      if (cell == null) { cell = fresh; mine = true }
    }
    val v = try cell.force() catch { case t: Throwable => cells.remove(key, cell); throw t }
    if (mine || valid(v)) v
    else { evict(key, cell); apply(key, valid)(build) }
  }

  /** Keep `v` under a key of its own until the next [[clear]]: a value a
    * call hands back to its caller that must outlive the call. */
  def pin(v: V): V = {
    val cell = new Cell(() => v)
    cell.force()
    cells.put(new Object, cell)
    v
  }

  def clear(): Unit = cells.asScala.foreach { case (k, c) => evict(k, c) }

  private def evict(key: Any, cell: Cell): Unit = if (cells.remove(key, cell)) cell.drop()
}

/** The registry of the engine's memos: each is made here under the module
  * that owns it, so one call releases a module's memos ([[release]]) or
  * all of them ([[releaseAll]]). Memos of on-disk state are also released
  * when the JVM exits. */
object Memo {

  private val anyValue: Any => Boolean = _ => true

  private val registry = new ConcurrentLinkedQueue[(AnyRef, Memo[_, _])]
  private val onDiskMemos = new ConcurrentLinkedQueue[Memo[_, _]]
  private val pinMemos = new ConcurrentHashMap[AnyRef, Memo[AnyRef, AnyRef]]

  /** A memo owned by `owner`, the module that declares it. */
  def apply[K, V](owner: AnyRef, release: V => Unit = (_: V) => ()): Memo[K, V] = {
    val m = new Memo[K, V](release)
    registry.add((owner, m))
    m
  }

  /** A memo whose values live on disk (temp directories, catalog tables):
    * besides the sweeps above, a JVM shutdown hook releases what is left,
    * so a process that exits without clearing leaves no files behind. */
  def onDisk[K, V](owner: AnyRef, release: V => Unit): Memo[K, V] = {
    val m = apply[K, V](owner, release)
    exitHook
    onDiskMemos.add(m)
    m
  }

  /** Runs before Spark's own shutdown hook (Hadoop priority 40), so a
    * release that drops catalog tables still finds a live session. */
  private lazy val exitHook: Unit =
    org.apache.hadoop.util.ShutdownHookManager.get().addShutdownHook(
      () => onDiskMemos.asScala.foreach(_.clear()), 50)

  /** Keep a persisted frame until `owner`'s memos are released. */
  def pin(owner: AnyRef, df: DataFrame): DataFrame = { pinsOf(owner).pin(df); df }

  /** Keep a persisted RDD until `owner`'s memos are released. */
  def pin[T](owner: AnyRef, rdd: RDD[T]): RDD[T] = { pinsOf(owner).pin(rdd); rdd }

  private def pinsOf(owner: AnyRef): Memo[AnyRef, AnyRef] =
    pinMemos.computeIfAbsent(owner, o => apply[AnyRef, AnyRef](o, {
      case ds: Dataset[_] => ds.unpersist()
      case rdd: RDD[_] => rdd.unpersist(blocking = false)
    }))

  /** Release every memo and pin of `owner`. */
  def release(owner: AnyRef): Unit =
    registry.asScala.foreach { case (o, m) => if (o eq owner) m.clear() }

  /** Release every registered memo and pin. */
  def releaseAll(): Unit = registry.asScala.foreach { case (_, m) => m.clear() }
}
