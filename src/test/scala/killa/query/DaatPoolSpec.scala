package killa.query

import org.scalatest.funsuite.AnyFunSuite

/** The shared DAAT pool follows the size it is given on every resize, in
  * both directions, so a JVM whose CPU affinity widens after its first query
  * is not left with the first query's pool width.
  */
class DaatPoolSpec extends AnyFunSuite {

  test("resize follows 2 -> 4 -> 2: core and max size track each call") {
    for (n <- Seq(2, 4, 2)) {
      val p = DaatPool.resize(n)
      assert(p.getCorePoolSize == n, s"core size after resize($n)")
      assert(p.getMaximumPoolSize == n, s"max size after resize($n)")
    }
    // the next submit re-syncs the pool to the box
    val expected = Runtime.getRuntime.availableProcessors().min(DaatPool.maxSize)
    val p = DaatPool.pool.asInstanceOf[java.util.concurrent.ThreadPoolExecutor]
    assert(p.getCorePoolSize == expected && p.getMaximumPoolSize == expected)
  }
}
