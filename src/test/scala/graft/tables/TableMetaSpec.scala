package graft.tables

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicBoolean

import org.scalatest.funsuite.AnyFunSuite

/** Table metadata is replaced, never rewritten in place: a reader racing
  * a writer sees the old or the new properties, never a truncated file.
  * Row tracking's base-id claim, the identity counter and every read's
  * column-mapping renames read it while other writers may be writing. */
class TableMetaSpec extends AnyFunSuite {

  lazy val spark = graft.core.GraftSession.local(4)

  test("a reader looping meta beside a writer looping setMeta of the same content " +
      "never sees a key go missing") {
    val root = Files.createTempDirectory("graft_meta_atomic").toString
    val store = new TableStore(spark, root)
    try {
      val m = TableMeta(comment = Some("c"),
        properties = (1 to 50).map(i => s"key.$i" -> ("v" * 40)).toMap)
      store.setMeta("db.t", m)
      val stop = new AtomicBoolean(false)
      val writer = new Thread(() => while (!stop.get) store.setMeta("db.t", m))
      writer.start()
      var reads = 0
      var torn = 0
      val deadline = System.nanoTime() + 2000000000L
      try while (System.nanoTime() < deadline) {
        reads += 1
        if (store.meta("db.t") != m) torn += 1
      } finally { stop.set(true); writer.join() }
      assert(torn == 0, s"$torn of $reads reads saw a partial table metadata file")
    } finally {
      store.detach()
      graft.queries.Scratch.deleteRecursively(Paths.get(root))
    }
  }
}
