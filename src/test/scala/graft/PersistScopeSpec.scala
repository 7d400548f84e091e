package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** PersistScope ownership: a scope releases exactly what it claimed when
  * its block ends, it only claims plans it actually persisted (closing
  * scope B never evicts a plan scope A still owns — CacheManager matches
  * by logical plan, not DataFrame identity), and it is visible only on
  * the thread that opened it. */
class PersistScopeSpec extends SparkSpec {
  import spark.implicits._

  private def cached(df: DataFrame) = df.storageLevel != StorageLevel.NONE

  /** Runs `body` on a fresh thread, which sees no open scope. */
  private def onOtherThread[A](body: => A): A = {
    var out: Option[A] = None
    val t = new Thread(() => out = Some(body))
    t.start(); t.join()
    out.get
  }

  test("cache persists fresh plans and close releases them") {
    val df = PersistScope.within {
      val df = PersistScope.cache(Seq(1, 2, 3).toDF("x").filter($"x" > 1))
      assert(cached(df))
      df
    }
    assert(!cached(df))
  }

  test("a second scope over an already-cached plan does not steal ownership") {
    val owned = PersistScope.within {
      val owned =
        PersistScope.cache(Seq(1, 2, 3, 4).toDF("x").filter($"x" % 2 === 0))
      owned.count()
      // same PLAN, different DataFrame: CacheManager would warn + no-op on
      // re-persist; the inner scope must not register it either
      PersistScope.within {
        PersistScope.cache(Seq(1, 2, 3, 4).toDF("x").filter($"x" % 2 === 0))
      }
      assert(cached(owned),
        "closing the non-owner scope evicted the first owner's cache")
      owned
    }
    assert(!cached(owned))
  }

  test("nested scopes: the inner scope releases only what it claimed") {
    PersistScope.within {
      val outer = PersistScope.cache(Seq(1, 2).toDF("x").filter($"x" > 0))
      val inner = PersistScope.within {
        val inner = PersistScope.cache(Seq(3, 4).toDF("y").filter($"y" > 0))
        assert(cached(outer) && cached(inner))
        inner
      }
      assert(!cached(inner), "the inner scope kept its own cache")
      assert(cached(outer), "the inner scope released the outer one's cache")
    }
  }

  test("a throwing block still releases its cache") {
    var df: DataFrame = null
    val e = intercept[IllegalStateException] {
      PersistScope.within {
        df = PersistScope.cache(Seq(5, 6).toDF("x").filter($"x" > 5))
        throw new IllegalStateException("boom")
      }
    }
    assert(e.getMessage == "boom")
    assert(!cached(df))
  }

  test("with no scope open, cache leaves the plan persisted") {
    // this test's own body runs in a scope; a fresh thread has none
    val df = onOtherThread(
      PersistScope.cache(Seq(7, 8).toDF("x").filter($"x" > 7)))
    try {
      PersistScope.within(())
      assert(cached(df))
    } finally df.unpersist()
  }

  test("a thread started inside within does not see the caller's scope") {
    val (mine, theirs) = PersistScope.within {
      val mine = PersistScope.cache(Seq(9, 10).toDF("x").filter($"x" > 9))
      val theirs = onOtherThread(
        PersistScope.cache(Seq(11, 12).toDF("y").filter($"y" > 11)))
      (mine, theirs)
    }
    try {
      assert(!cached(mine))
      assert(cached(theirs), "the caller's scope released another thread's cache")
    } finally theirs.unpersist()
  }
}
