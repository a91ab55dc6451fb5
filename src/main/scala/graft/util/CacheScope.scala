package graft.util

import org.apache.spark.sql.Dataset
import org.apache.spark.storage.StorageLevel

/** Scoped lifecycle for the engine's internal `cache()`s.
  *
  * Several operators ([[graft.dedup.Dedup]], [[graft.curation.Curation]])
  * cache a frame that feeds multiple branches of one plan — the
  * materialize-once shape those take at scale. The caches used to be
  * caller-released (session-wide `clearCache()`), which a long-lived
  * session composing many queries can't do without dropping unrelated
  * user caches. [[pin]] is a drop-in for `.cache()` that additionally
  * registers the frame in the active [[loan]] scope (a thread-local —
  * correct because `cache()` registration happens eagerly at plan
  * construction on the calling thread); [[loan]] unpersists everything
  * pinned inside its body, releasing exactly the engine's own caches:
  *
  * {{{
  *   CacheScope.loan {
  *     val out = Curation.curate(corpus, eval)   // pins internally
  *     out.write.parquet(dest)                   // materialize inside
  *   }                                           // all pins released
  * }}}
  *
  * Outside any loan, [[pin]] degrades to plain `.cache()` with the
  * historical caller-side release contract.
  */
object CacheScope {

  private val active = new ThreadLocal[scala.collection.mutable.ArrayBuffer[Dataset[_]]]

  /** `.cache()` plus registration in the enclosing [[loan]], if any.
    * A frame whose plan is already cached — by the caller, or by an
    * earlier pin — comes back as it is: neither cached again nor
    * registered, because unpersisting an equal plan drops that other
    * owner's cache. */
  def pin[T](ds: Dataset[T]): Dataset[T] =
    if (ds.storageLevel != StorageLevel.NONE) ds
    else {
      val scope = active.get()
      if (scope != null) scope += ds
      ds.cache()
    }

  /** Run `body`, then unpersist every frame [[pin]]ned inside it.
    * Nested loans release only their own pins. Returns `body`'s value;
    * releases on all exit paths.
    */
  def loan[A](body: => A): A = loanCapturing(body)._1

  /** Test seam: like [[loan]] but also returns the released frames. */
  private[graft] def loanCapturing[A](body: => A): (A, Seq[Dataset[_]]) = {
    val outer = active.get()
    val mine = scala.collection.mutable.ArrayBuffer.empty[Dataset[_]]
    active.set(mine)
    try (body, mine.toSeq)
    finally {
      if (outer == null) active.remove() else active.set(outer)
      mine.foreach(_.unpersist(blocking = false))
    }
  }
}
