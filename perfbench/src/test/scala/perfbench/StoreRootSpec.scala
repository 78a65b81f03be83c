package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StoreRootSpec extends AnyFunSuite {

  private val root = "/checkout/perfbench/.work/stores"

  test("store workspaces move under the root and back; other paths stay") {
    val store = "/tmp/graft_bucketed_local_1_ab/orders_b/part-0.parquet"
    val moved = StoreRoot.redirect(store, root)
    assert(moved == s"$root/graft_bucketed_local_1_ab/orders_b/part-0.parquet")
    assert(StoreRoot.restore(moved, root) == store)
    for (p <- Seq("/tmp/graftx", "/tmp/other/graft_a", "/checkout/perfbench/data/orders.parquet",
        s"$root/not_a_store")) {
      assert(StoreRoot.redirect(p, root) == p)
      assert(StoreRoot.restore(p, root) == p)
    }
  }
}
