package graft

import java.util.concurrent.CountDownLatch

import graft.io.Pins
import graft.text.TextStats

/** Pin lifecycle: operators that pin a shared intermediate leak
  * MEMORY_AND_DISK storage unless freed; [[Pins.scope]] frees exactly
  * the pins its calling thread registered inside it, on return and on
  * throw.
  */
class PinsSpec extends SparkSpec {
  import spark.implicits._

  private def pinned(): Int = spark.sparkContext.getPersistentRDDs.size
  private def pinIds(): Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("a scope frees the pin an operator created") {
    val base = pinned()
    Pins.scope {
      val docs = Seq((1L, "a b\n\nc d"), (2L, "a b\n\ne f")).toDF("doc_id", "text")
      val out = TextStats.dedupParagraphs(docs, "doc_id", "text")
      assert(pinned() > base, "dedupParagraphs pins its exploded table eagerly")
      out.count() // terminal action
    }
    assert(pinned() == base, "the scope must drop the plan's localCheckpoint pins")
  }

  test("a scope frees pins not reachable from a kept result") {
    val base = pinned()
    val docs = Seq((1L, "x y z"), (2L, "x q r")).toDF("doc_id", "text")
    // hold the results in vars: an UNREFERENCED pinned RDD is fair game
    // for ContextCleaner's GC-driven unpersist at any moment (observed:
    // a later query's job triggered a GC and the first pin vanished
    // before the assert) — the spec tests the scope, not cleaner timing
    var a, b: org.apache.spark.sql.DataFrame = null
    Pins.scope {
      a = TextStats.tfidfTopTerms(docs, "doc_id", "text")
      a.count()
      b = TextStats.oovSignals(docs, "doc_id", "text")
      b.count()
      assert(pinned() >= base + 2)
    }
    assert(pinned() == base)
    // keep a/b reachable to this point so the cleaner can't race the asserts
    assert((a ne null) && (b ne null))
  }

  test("a scope frees only its own thread's pins") {
    val entered = new CountDownLatch(1)
    val leave = new CountDownLatch(1)
    @volatile var failure: Option[Throwable] = None
    val other = new Thread(() =>
      try Pins.scope { entered.countDown(); leave.await() }
      catch { case t: Throwable => failure = Some(t) })
    other.start()
    entered.await()
    Pins.scope {
      val df = Pins.pin(spark.range(1000).toDF("id"))
      assert(df.count() == 1000L)
      leave.countDown()
      other.join()
      // the other thread's scope closed while this pin was live: it
      // must not have taken this thread's pin with it
      assert(df.count() == 1000L)
    }
    assert(failure.isEmpty, failure)
  }

  test("a scope frees its pins when its body throws") {
    val before = pinIds()
    val e = intercept[IllegalStateException] {
      Pins.scope {
        val df = Pins.pin(spark.range(10).toDF("id"))
        assert(df.count() == 10L && !(pinIds() subsetOf before))
        throw new IllegalStateException("boom")
      }
    }
    assert(e.getMessage == "boom")
    assert(pinIds() subsetOf before, "a throwing body must not leak its pins")
  }

  test("nested scopes free inner pins first; a pin outlives an inner scope it was not made in") {
    val before = pinIds()
    Pins.scope {
      val outer = Pins.pin(spark.range(5).toDF("id"))
      Pins.scope {
        Pins.pin(spark.range(7).toDF("id")).count()
      }
      assert(outer.count() == 5L, "the inner scope must not free the outer pin")
    }
    assert(pinIds() subsetOf before)
  }
}
