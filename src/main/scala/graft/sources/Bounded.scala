package graft.sources

import java.util.concurrent.{Callable, Executors}
import java.util.concurrent.atomic.AtomicReference

/** The one bounded driver pool: the ETL drain's month copies, the runner's
  * tables in flight and the per-leaf compaction rewrites all submit
  * independent Spark jobs through [[map]].
  */
private[graft] object Bounded {

  /** `items.map(f)` with at most `maxParallel` calls in flight, results in
    * input order. With `maxParallel <= 1` or at most one item every call
    * runs on the caller's thread, so job tags and local properties behave
    * exactly as in a plain loop. Otherwise a pool of
    * `min(maxParallel, items)` threads runs the calls; once one throws, no
    * queued call starts, the running ones finish, and the first failure is
    * rethrown as thrown.
    */
  def map[A, B](items: Seq[A], maxParallel: Int)(f: A => B): Seq[B] =
    if (maxParallel <= 1 || items.size <= 1) items.map(f)
    else {
      val failure = new AtomicReference[Throwable]
      val pool = Executors.newFixedThreadPool(math.min(maxParallel, items.size))
      try {
        val futures = items.map { a =>
          pool.submit(new Callable[Option[B]] {
            override def call(): Option[B] =
              if (failure.get() != null) None // fail fast: skip queued work
              else try Some(f(a)) catch {
                case t: Throwable => failure.compareAndSet(null, t); None
              }
          })
        }
        val out = futures.map(_.get())
        if (failure.get() != null) throw failure.get()
        out.map(_.get)
      } finally { pool.shutdown(); () }
    }
}
