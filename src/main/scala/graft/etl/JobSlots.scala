package graft.etl

/** Fleet-wide copy-job budget (r8 verdict task 7): without it, total jobs
  * in flight under a pooled [[EtlRunner.runAllFrom]] is
  * tables-in-flight × max(per-table `maxParallel`) — explicit but
  * MULTIPLICATIVE, so an operator could not cap the fleet. One shared
  * `JobSlots` threaded through every table's drain makes the bound
  * additive-exact: each month-copy job holds one permit for its duration,
  * so at most `budget` copy jobs run at any instant across ALL tables —
  * the same flat-pool discipline [[graft.sources.Compaction]] applies to
  * nested leaf rewrites. Fairness mode keeps a wide table from starving a
  * narrow one.
  *
  * `peak` is a per-instance gauge (not process-wide — overlapping runs
  * each measure their own budget), asserted by specs.
  */
final class JobSlots(budget: Int) {
  require(budget >= 1, s"job-slot budget must be >= 1, got $budget")
  private val sem = new java.util.concurrent.Semaphore(budget, true)
  private val active = new java.util.concurrent.atomic.AtomicInteger(0)
  val peak = new java.util.concurrent.atomic.AtomicInteger(0)

  def withSlot[T](f: => T): T = {
    sem.acquire()
    val a = active.incrementAndGet()
    peak.getAndAccumulate(a, Math.max(_, _))
    try f
    finally { active.decrementAndGet(); sem.release() }
  }
}
