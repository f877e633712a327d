package graft

import org.apache.spark.sql.functions._
import graft.functions.TopKPairAgg
import graft.ops.Relational

class TopKPairAggSpec extends SparkSpec {
  import spark.implicits._

  test("topk_pairs equals the window row_number form, ties and all") {
    // deterministic pseudo-random data with deliberate ord ties
    val rows = (1 to 5000).map { i =>
      val g = i % 7
      val ord = (i * 2654435761L) % 50 // heavy ties
      (g, ord, i.toLong)
    }.toDF("g", "ord", "id")
    val viaAgg = rows.groupBy("g")
      .agg(TopKPairAgg.topkPairs(col("ord"), col("id"), 5).as("top"))
      .select(col("g"), explode(col("top")).as("p"))
      .select(col("g"), col("p.ord").as("ord"), col("p.id").as("id"))
    val viaWindow = Relational.topKPerGroup(rows,
      Seq(col("g")), Seq(col("ord"), col("id")), 5)
    assert(viaAgg.exceptAll(viaWindow).count() == 0)
    assert(viaWindow.exceptAll(viaAgg).count() == 0)
  }

  test("topk_pairs with fewer rows than k returns them all, sorted") {
    val rows = Seq((1, 30L, 3L), (1, 10L, 1L), (1, 20L, 2L)).toDF("g", "ord", "id")
    val out = rows.groupBy("g")
      .agg(TopKPairAgg.topkPairs(col("ord"), col("id"), 5).as("top"))
      .select(explode(col("top")).as("p"))
      .select(col("p.ord"), col("p.id")).as[(Long, Long)].collect().toSeq
    assert(out == Seq((10L, 1L), (20L, 2L), (30L, 3L)))
  }

  test("topk_pairs dedup equals distinct-then-topk on exact-duplicate streams") {
    // The ANN multi-assignment shape (e6b/e12): a (group, id) candidate
    // reached through several shared inverted lists repeats with a
    // bit-identical ord. dedup=true in the heap must equal
    // `.distinct()` upstream of the non-dedup heap — including when the
    // duplicate count pushes a group well past k, when duplicates arrive
    // in every partial buffer (partitioned input), and under ord ties
    // between DIFFERENT ids (which must all be kept — only exact
    // (ord, id) duplicates collapse).
    val base = (1 to 2000).map { i =>
      val g = i % 5
      val ord = (i * 2654435761L) % 40 // heavy ties across different ids
      (g, ord, i.toLong)
    }
    // replicate each row 1-3x deterministically (the multi-assignment)
    val rows = base.flatMap { case r @ (_, _, id) =>
      Seq.fill(1 + (id % 3).toInt)(r)
    }.toDF("g", "ord", "id").repartition(7)
    val dedup = rows.groupBy("g")
      .agg(TopKPairAgg.topkPairs(col("ord"), col("id"), 5, dedup = true).as("top"))
      .select(col("g"), explode(col("top")).as("p"))
      .select(col("g"), col("p.ord"), col("p.id"))
    val distinctThenTopk = rows.distinct().groupBy("g")
      .agg(TopKPairAgg.topkPairs(col("ord"), col("id"), 5).as("top"))
      .select(col("g"), explode(col("top")).as("p"))
      .select(col("g"), col("p.ord"), col("p.id"))
    assert(dedup.exceptAll(distinctThenTopk).count() == 0)
    assert(distinctThenTopk.exceptAll(dedup).count() == 0)
    // and without dedup the duplicates would (correctly) surface: guard
    // that this test actually exercises the collapse
    val plain = rows.groupBy("g")
      .agg(TopKPairAgg.topkPairs(col("ord"), col("id"), 5).as("top"))
      .select(col("g"), explode(col("top")).as("p"))
      .select(col("g"), col("p.ord"), col("p.id"))
    assert(plain.exceptAll(distinctThenTopk).count() > 0)
  }

  test("topk_pairs dedup rejects an evicted pair's late duplicate") {
    // Root monotonicity edge (the scaladoc's proof obligation): insert a
    // pair, evict it with k smaller pairs, then offer its duplicate — it
    // must not re-enter (it compares above the current root).
    val h = new TopKPairAgg.Heap(3, dedup = true)
    h.offer(50L, 9L)
    h.offer(10L, 1L); h.offer(20L, 2L); h.offer(30L, 3L) // evicts (50, 9)
    h.offer(50L, 9L) // late duplicate of the evicted pair
    assert(h.sortedPairs.toSeq == Seq((10L, 1L), (20L, 2L), (30L, 3L)))
    // duplicate of a CURRENT non-root member must also be rejected
    h.offer(10L, 1L)
    assert(h.sortedPairs.toSeq == Seq((10L, 1L), (20L, 2L), (30L, 3L)))
    // but a genuinely new smaller pair still displaces the root
    h.offer(5L, 0L)
    assert(h.sortedPairs.toSeq == Seq((5L, 0L), (10L, 1L), (20L, 2L)))
  }

  test("topKByScore raises loudly on a NaN score") {
    // VERDICT r21 item 8: SortKeyF's descending bijection is not total
    // for NaN (zero-norm embedding at corpus scale) — the guard must turn
    // that into a run-time error, not silently divergent top-k.
    val ok = Seq((1, 0.5, 1L), (1, 0.7, 2L)).toDF("g", "score", "id")
    assert(Relational.topKByScore(ok, Seq("g"), col("score"), col("id"),
      5, "id", "score").count() == 2)
    val bad = Seq((1, 0.5, 1L), (1, Double.NaN, 2L)).toDF("g", "score", "id")
    val e = intercept[Exception] {
      Relational.topKByScore(bad, Seq("g"), col("score"), col("id"),
        5, "id", "score").count()
    }
    assert(e.getMessage != null)
  }

  test("topk_pairs partial-aggregates instead of window-sorting") {
    val rows = (1 to 100).map(i => (i % 3, i.toLong, i.toLong)).toDF("g", "ord", "id")
    val plan = rows.groupBy("g")
      .agg(TopKPairAgg.topkPairs(col("ord"), col("id"), 5))
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate") || plan.contains("SortAggregate"), plan)
    assert(plan.contains("partial_topk_pairs"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("topk_pairs dedup refuses k past MaxDedupK when the column is built") {
    val k = TopKPairAgg.MaxDedupK
    TopKPairAgg.topkPairs(col("ord"), col("id"), k, dedup = true)
    intercept[IllegalArgumentException] {
      TopKPairAgg.topkPairs(col("ord"), col("id"), k + 1, dedup = true)
    }
    // the plain heap has no membership scan, so no bound
    TopKPairAgg.topkPairs(col("ord"), col("id"), k + 1)
  }
}
