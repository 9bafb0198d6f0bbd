package graft.operators

import graft.{SparkSpec, Tables}
import graft.vector.VectorOps

/** The iterative operators size their loops' shuffles (and switch AQE
  * off in the tiny-loop regime) on a private child session, never on the
  * caller's: a conf written on the shared session reaches every query
  * compiling on it concurrently, and a thread abandoned at a bench cap
  * would restore it in the middle of the next row. This spec asserts the
  * contract directly: while connectedComponents, kCore, bpeTrain and
  * kmeansTrain run in another thread, the caller session's partition
  * and AQE settings never change, and every frame they return is bound
  * to the caller's session.
  */
class LoopScopeSpec extends SparkSpec {
  import spark.implicits._

  test("loop operators never change the caller's shuffle or AQE conf") {
    val keys = Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
    val before = keys.map(k => k -> spark.conf.get(k)).toMap
    val edges = {
      val chain = (0L until 40L).map(i => (i, i + 1)) ++ Seq((0L, 2L), (1L, 3L), (2L, 4L))
      chain.flatMap(p => Seq(p, p.swap)).toDF("src", "dst")
    }
    val err = new java.util.concurrent.atomic.AtomicReference[String](null)
    val returned = new java.util.concurrent.ConcurrentLinkedQueue[(String, AnyRef)]()
    val t = new Thread(() => {
      try {
        val cc = Graph.connectedComponents(edges)
        cc.collect()
        returned.add("connectedComponents" -> cc.sparkSession)
        val core = Graph.kCore(edges, 2)
        core.collect()
        returned.add("kCore" -> core.sparkSession)
        val bpe = TextOps.bpeTrain(Tables.documents(spark, sfDir), 5)
        bpe.collect()
        returned.add("bpeTrain" -> bpe.sparkSession)
        val e = Tables.embeddings(spark, sfDir)
        assert(VectorOps.kmeansTrain(e, "vec_id", "embedding", 4, 2).length == 4)
      } catch { case e: Throwable => err.set(e.toString) }
    }, "loop-scope-operators")
    t.start()
    var polls = 0
    while (t.isAlive) {
      keys.foreach { k =>
        assert(spark.conf.get(k) == before(k),
          s"a loop operator wrote $k on the caller's session")
      }
      polls += 1
    }
    t.join()
    assert(err.get == null, s"loop operators failed: ${err.get}")
    assert(polls > 0, "thread finished before a single poll — no coverage")
    assert(returned.size == 3)
    returned.forEach { case (op, session) =>
      assert(session eq spark, s"$op returned a frame bound to a child session")
    }
  }
}
