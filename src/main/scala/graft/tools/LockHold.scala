package graft.tools

import graft.core.Locks
import graft.core.catalog.Warehouse

/** Test helper main: hold a warehouse lock from a separate JVM.
  *
  * `args = <warehouseRoot> <lockName> <holdMs>`. Prints `HELD` once the
  * lock is acquired (the parent test waits for this marker) and `RELEASED`
  * after the hold. Used by the cross-JVM lock specs: a second process holds
  * the lock (exclusion must come from the kernel file lock, not the
  * in-process striped lock) and can be SIGKILLed mid-hold to manufacture a
  * genuinely crashed holder.
  */
object LockHold {
  def main(args: Array[String]): Unit = {
    val wh = Warehouse(args(0))
    val name = args(1)
    val holdMs = args(2).toLong
    Locks.withLock(wh, name) {
      println("HELD")
      Console.flush()
      Thread.sleep(holdMs)
    }
    println("RELEASED")
  }
}
