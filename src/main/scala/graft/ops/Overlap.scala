package graft.ops

/** Overlap INDEPENDENT stage builds inside one query (r18, guide §2.6):
  * Spark's scheduler happily runs several jobs at once in one
  * application — actions are only sequential because the driver calls
  * them sequentially. The multimodal members construct four independent
  * cluster-label pipelines (text MinHash, image pHash, audio aHash,
  * video vHash), each a chain of small eager stages (decode barrier +
  * banded candidates + the star-contraction fixpoint) that alone keeps
  * a fraction of the cores busy — a per-stage probe of
  * q_corpus_filter_mm read 33 s wall against 66–82 core-seconds of
  * executor time on 32 cores (average parallelism ~2.5). Submitting the
  * independent builds from a small thread pool lets each build's tail
  * back-fill the others' idle cores; results and their composition are
  * unchanged (FIFO scheduling, same frames, same joins).
  */
object Overlap {

  // cached pool, daemon threads: builder thunks may themselves overlap
  // nested builds (artifact ensure inside a verdict build) — a FIXED
  // pool could starve the outer thunk waiting on an inner one
  private lazy val pool = java.util.concurrent.Executors.newCachedThreadPool(
    (r: Runnable) => {
      val t = new Thread(r, "graft-overlap")
      t.setDaemon(true)
      t
    })
  private lazy val ec =
    scala.concurrent.ExecutionContext.fromExecutorService(pool)

  /** Run independent builder thunks concurrently; return results in
    * call order. An exception in any thunk rethrows here — same failure
    * surface as the sequential composition it replaces.
    */
  def all[A](thunks: (() => A)*): Seq[A] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    val fs = thunks.map(t => Future(t())(ec)).toSeq
    fs.map(f => Await.result(f, Duration.Inf))
  }
}
