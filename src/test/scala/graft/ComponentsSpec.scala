package graft

import graft.ops.Components

/** Label propagation on known graph shapes: a chain (forces transitive
  * merging over multiple rounds), a triangle (cycle), and an isolated
  * pair — plus convergence inside the round budget and a loud failure
  * outside it. */
class ComponentsSpec extends SparkSpec {

  test("chain, triangle, and pair collapse to min-id components") {
    import spark.implicits._
    // chain 1-2-3-4 (diameter 3), triangle 10-11-12, pair 20-21
    val edges = Seq(
      (2L, 1L), (2L, 3L), (3L, 4L),
      (10L, 11L), (11L, 12L), (12L, 10L),
      (20L, 21L)).toDF("doc1", "doc2")
    val got = Components.connectedComponents(edges)
      .as[(Long, Long)].collect().toMap
    assert(got === Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L,
      20L -> 20L, 21L -> 20L))
  }

  test("dedup keep-one-per-cluster composes on top of components") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val edges = Seq((5L, 9L), (9L, 7L)).toDF("doc1", "doc2")
    val keep = Components.connectedComponents(edges)
      .groupBy("component").agg(min("doc_id").as("kept_doc_id"))
    assert(keep.as[(Long, Long)].collect().toSeq === Seq((5L, 5L)))
  }

  test("empty edge list yields an empty result (loop converges immediately)") {
    import spark.implicits._
    val edges = Seq.empty[(Long, Long)].toDF("doc1", "doc2")
    assert(Components.connectedComponents(edges).count() === 0)
  }

  test("random graphs match a driver-side union-find oracle") {
    import spark.implicits._
    val rnd = new scala.util.Random(42) // fixed seed: reproducible
    for (trial <- 1 to 3) {
      val n = 120
      val edges = Seq.fill(140)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2)
      // independent oracle: classic union-find with path compression
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      // canonical label = min node id per component
      val expected = nodes
        .groupBy(find).flatMap { case (_, members) =>
          val label = members.min
          members.map(_ -> label)
        }.toMap
      val got = Components.connectedComponents(edges.toDF("doc1", "doc2"))
        .as[(Long, Long)].collect().toMap
      assert(got === expected, s"trial $trial")
    }
  }

  // a 64-node chain (diameter 63): pointer jumping doubles reach per
  // round, so it closes in O(log diameter) rounds
  private def chain64 = {
    import spark.implicits._
    (1L until 64L).map(i => (i, i + 1)).toDF("doc1", "doc2")
  }

  test("a 64-node chain converges within the default round budget") {
    import spark.implicits._
    val labels = Components.connectedComponents(chain64)
      .as[(Long, Long)].collect().toMap
    assert(labels.size === 64)
    assert(labels.values.toSet === Set(1L))
  }

  /** BlockManager's WARNs that a task found another one writing the same
    * block: two concurrent stages reached one checkpointed partition. */
  private def blockRaces(body: => Unit): Seq[String] = {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("block-races", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = {
        val m = e.getMessage.getFormattedMessage
        if (m.contains("already exists on this machine")) { seen.add(m); () }
      }
    }
    val logger = LogManager.getLogger("org.apache.spark.storage.BlockManager")
      .asInstanceOf[Logger]
    appender.start()
    logger.addAppender(appender)
    try body finally { logger.removeAppender(appender); appender.stop() }
    seen.toArray(Array.empty[String]).toSeq
  }

  test("each round fills the frames its concurrent stages share before they start") {
    // filled lazily, `labels` and `half` raced two stages onto one block
    // in some of these chains' rounds
    val races = blockRaces {
      (1 to 3).foreach(_ => Components.connectedComponents(chain64).collect())
    }
    assert(races.isEmpty, races.mkString("\n"))
  }

  test("the chain, triangle and pair graph closes in 32 jobs") {
    import spark.implicits._
    val edges = Seq(
      (2L, 1L), (2L, 3L), (3L, 4L),
      (10L, 11L), (11L, 12L), (12L, 10L),
      (20L, 21L)).toDF("doc1", "doc2")
    val (jobs, _) = jobsAndExecutions {
      Components.connectedComponents(edges).collect(); ()
    }
    // explode-symmetrized edges and AQE-sized rounds: 32 jobs. A persisted
    // input with a count() job and hand-sized repartitions ran 35.
    assert(jobs === 32)
  }

  test("too few rounds for the diameter fails loudly instead of truncating") {
    val e = intercept[IllegalStateException] {
      Components.connectedComponents(chain64, maxIter = 2).count()
    }
    assert(e.getMessage.contains("did not converge in 2 rounds"))
  }
}
