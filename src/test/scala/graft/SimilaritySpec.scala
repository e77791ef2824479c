package graft

import org.apache.spark.sql.DataFrame
import graft.operators.Similarity

/** Embedding-query correctness on constructed clusters: brute force must
  * return the true cluster, and the k-means and fusion operators must
  * match independent reimplementations.
  */
class SimilaritySpec extends SparkSuite {

  // two orthogonal clusters in R^4, unit-ish vectors, 10 per cluster
  private lazy val emb: DataFrame = {
    import spark.implicits._
    val rows = (0 until 20).map { i =>
      val cluster = i % 2 // even → A(1,0,0,0)-ish, odd → B(0,1,0,0)-ish
      val eps = 0.01f * (i / 2)
      val v =
        if (cluster == 0) Array(1.0f, eps, 0.0f, 0.0f)
        else Array(eps, 1.0f, 0.0f, 0.0f)
      (i.toLong, v, cluster)
    }
    rows.toDF("vec_id", "embedding", "label")
  }

  test("brute-force top-k returns only same-cluster neighbors, rank-ordered") {
    val res = Similarity.knnBrute(emb, nQueries = 2, k = 3).collect()
    assert(res.length == 6)
    res.foreach { r =>
      val qid = r.getLong(0); val nid = r.getLong(1)
      assert(qid % 2 == nid % 2, s"query $qid got cross-cluster neighbor $nid")
    }
    // ranks are 1..k per query and dots non-increasing
    val byQ = res.groupBy(_.getLong(0))
    byQ.values.foreach { rs =>
      val sorted = rs.sortBy(_.getInt(3))
      assert(sorted.map(_.getInt(3)).toSeq == Seq(1, 2, 3))
      val dots = sorted.map(_.getLong(2)).toSeq
      assert(dots == dots.sorted.reverse)
    }
  }

  test("TopKAggregator form is row-for-row identical to the window form") {
    val window = Similarity.knnBrute(emb, nQueries = 2, k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    val agged = Similarity.knnBruteAgg(emb, nQueries = 2, k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    assert(agged == window)
  }

  test("semanticDedup matches an independent brute-force SemDeDup (and keeps cluster minima)") {
    val nCells = 4; val iters = 2; val tau = 40000000L
    val res = Similarity.semanticDedup(emb, nCells, iters, tau).collect()
      .map(r => (r.getLong(0), r.getInt(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)), r.getBoolean(3)))
      .sortBy(_._1)

    // independent Scala reimplementation: quantize → seeded Lloyd's with
    // truncating integer division → within-cell pairs → keep-min-id
    val rows = emb.collect().map(r => (r.getLong(0),
      r.getSeq[Float](1).map(x => math.round(x.toDouble * 10000)).toArray))
      .sortBy(_._1)
    var cents = rows.filter(_._1 < nCells).map(_._2.map(identity))
    def cellOf(q: Array[Long], cs: Array[Array[Long]]): Int =
      cs.zipWithIndex.map { case (c, i) =>
        (c.map(x => x * x).sum - 2L * c.zip(q).map { case (a, b) => a * b }.sum, i)
      }.min._2
    for (_ <- 0 until iters) {
      val byCell = rows.groupBy { case (_, q) => cellOf(q, cents) }
      cents = cents.zipWithIndex.map { case (c, i) =>
        byCell.get(i).map { members =>
          c.indices.map(d =>
            members.map(_._2(d)).sum / members.length.toLong).toArray
        }.getOrElse(c)
      }
    }
    val assigned = rows.map { case (id, q) => (id, q, cellOf(q, cents)) }
    val expected = assigned.map { case (id, q, cell) =>
      val dups = assigned.filter { case (id2, q2, cell2) =>
        cell2 == cell && id2 < id &&
          q.zip(q2).map { case (a, b) => a * b }.sum >= tau
      }.map(_._1)
      (id, cell, dups.sorted.headOption, dups.isEmpty)
    }.sortBy(_._1)
    assert(res.toSeq == expected.toSeq)

    // semantics: clusters A/B are near-orthogonal, so no cross-label dup
    // edges; every dup_of points within the vec's own cluster and the
    // smallest id of each (cell, label) group survives
    res.foreach { case (id, _, dupOf, keep) =>
      dupOf.foreach(d => assert(d % 2 == id % 2, s"$id dup_of cross-label $d"))
      assert(keep == dupOf.isEmpty)
    }
    assert(res.count(!_._4) > 0, "corpus has within-cluster dups by construction")
  }

  test("hybridRrf fuses lexical and dense ranks by integer RRF, " +
      "differentially vs its two component retrievers") {
    import spark.implicits._
    val terms = Seq("vector", "hash")
    // doc ids live in emb's id space (0..19); id 0 is the dense query.
    // Term frequencies differ per doc so BM25 produces strict ranks;
    // ids 18/19 are lexical-only hits way outside the dense top-k.
    val docs = Seq(
      (0L, "vector hash vector hash vector pad"),
      (1L, "vector pad pad pad pad pad"),
      (2L, "hash hash hash pad pad pad"),
      (3L, "pad pad pad pad pad pad"),
      (18L, "vector vector hash hash hash vector"),
      (19L, "vector hash pad pad pad pad")).toDF("doc_id", "text")
    val kEach = 4
    val got = Similarity.hybridRrf(docs, emb, terms, kEach = kEach,
        kOut = 10, c = 60)
      .collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getInt(1)),
        if (r.isNullAt(2)) None else Some(r.getInt(2)),
        r.getLong(3)))
      .toSeq
    // expected fusion from the two components' own outputs
    val lexRank = graft.operators.TextOps.bm25TopK(docs, terms, kEach)
      .collect().map(_.getLong(0)).zipWithIndex
      .map { case (id, i) => id -> (i + 1) }.toMap
    val vecRank = Similarity.knnBruteAgg(emb, nQueries = 1, k = kEach)
      .collect().map(r => r.getLong(1) -> r.getInt(3)).toMap
    def tm(r: Option[Int]): Long = r.map(x => 1000000L / (60 + x)).getOrElse(0L)
    val want = (lexRank.keySet ++ vecRank.keySet).toSeq
      .map { id =>
        (id, lexRank.get(id), vecRank.get(id),
          tm(lexRank.get(id)) + tm(vecRank.get(id)))
      }
      .sortBy { case (id, _, _, s) => (-s, id) }
      .take(10)
    assert(got == want, s"got $got want $want")
    // both lists contributed: some fused row is lexical-only and the
    // dense-only rows carry exactly one term
    assert(got.exists(r => r._2.isDefined && r._3.isEmpty))
    assert(got.exists(r => r._2.isEmpty && r._3.isDefined))
    assert(got.exists(r => r._2.isDefined && r._3.isDefined),
      "a doc in both lists must outrank single-list docs at equal ranks")
  }
}
