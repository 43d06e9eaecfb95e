package graft.index

import graft.SparkSpec
import org.apache.spark.sql.functions._

class HkmSpec extends SparkSpec with HkmBeamPlans {
  import spark.implicits._

  test("assignment is the per-node argmin walk (local replica check)") {
    val rng = new scala.util.Random(31)
    val df = (0 until 300).map(i =>
      (i.toLong, Array.fill(6)(rng.nextGaussian().toFloat)))
      .toDF("doc_id", "vec").cache()
    val levels = HierarchicalKMeans.fitLevels(df, "vec", k = 3, depth = 2,
      seed = 42L, maxIter = 10)
    val nodes = HkmReference.nodes(levels)
    val got = HierarchicalKMeans.assignByLevels(df, levels, depth = 2)
      .as[(Long, Seq[Int])].collect().toMap
    val data = df.as[(Long, Array[Float])].collect()
    data.foreach { case (id, v) =>
      assert(got(id) == HkmReference.assign(nodes, v), s"doc $id")
      assert(got(id).nonEmpty && got(id).length <= 2)
      assert(got(id).forall(c => c >= 0 && c < 3))
    }
    // sibling subtrees genuinely differ (a trie, not a K-ary product):
    // two level-1 nodes with different centroid sets
    val kids = levels.where(col("level") === 1).orderBy("prefix")
      .select("cents").as[Seq[Seq[Float]]].collect()
    assert(kids.length >= 2)
    assert(kids(0) != kids(1))
  }

  test("empty input reaches the graceful empty-corpus path, not the budget probe") {
    // an empty corpus must fail by name, not yield an empty levels frame
    // that assigns every doc path [] and beams every query to one empty
    // path with score 0
    val empty = Seq.empty[(Long, Array[Float])].toDF("doc_id", "vec")
    val e = intercept[IllegalArgumentException] {
      HierarchicalKMeans.fitLevels(empty, "vec", k = 2, depth = 2)
    }
    assert(e.getMessage.contains("empty corpus"), e.getMessage)
    // an all-NULL vector column is the same empty corpus
    val nullVec = Seq((1L, Option.empty[Array[Float]]))
      .toDF("doc_id", "vec")
    val e2 = intercept[IllegalArgumentException] {
      HierarchicalKMeans.fitLevels(nullVec, "vec", k = 2, depth = 2)
    }
    assert(e2.getMessage.contains("empty corpus"), e2.getMessage)
  }

  test("undersized clusters become leaves (variable-depth paths)") {
    val rng = new scala.util.Random(7)
    // 3 points far out at (+50, ...) — below the 2k=6 split threshold —
    // plus 300 points near the origin
    val far = (0 until 3).map(i =>
      (1000L + i, Array(50f + i, 50f, 0f, 0f)))
    val near = (0 until 300).map(i =>
      (i.toLong, Array.fill(4)(rng.nextGaussian().toFloat)))
    val df = (far ++ near).toDF("doc_id", "vec").cache()
    val levels = HierarchicalKMeans.fitLevels(df, "vec", k = 3, depth = 2,
      seed = 42L, maxIter = 10)
    val paths = HierarchicalKMeans.assignByLevels(df, levels, depth = 2)
      .as[(Long, Seq[Int])].collect().toMap
    val farLens = far.map { case (id, _) => paths(id).length }.toSet
    assert(farLens == Set(1), s"far cluster should be a leaf: $farLens")
    assert(near.exists { case (id, _) => paths(id).length == 2 },
      "dense region should split to depth 2")
  }

  test("full-width beam contains the greedy assignment path; scores sorted") {
    val rng = new scala.util.Random(17)
    val data = (0 until 250).map(i =>
      (i.toLong, Array.fill(5)(rng.nextGaussian().toFloat)))
    val df = data.toDF("doc_id", "vec").cache()
    val k = 3
    val levels = HierarchicalKMeans.fitLevels(df, "vec", k = k, depth = 2,
      seed = 42L, maxIter = 10)
    val nodes = HkmReference.nodes(levels)
    val batch = data.take(25).map { case (id, v) => (java.lang.Long.valueOf(id), v) }
    val greedy = HierarchicalKMeans.assignByLevels(df, levels, depth = 2)
      .as[(Long, Seq[Int])].collect().toMap
    val out = beamBothPlans(batch, levels, depth = 2,
      beams = k * k) // full width at depth 2
      .groupBy(_._1.get)
    assert(out.size == 25)
    out.foreach { case (qid, rows) =>
      val ranked = rows.sortBy(_._2)
      val scores = ranked.map(r => java.lang.Double.longBitsToDouble(r._4))
      assert(scores.sliding(2).forall(s =>
        s.length < 2 || s.head >= s(1)), "scores must be non-increasing")
      assert(ranked.map(_._3).contains(greedy(qid)),
        "greedy path must appear in the full-width beam")
      // every path is a valid trie walk
      ranked.map(_._3).foreach { p =>
        p.indices.foreach { i =>
          assert(nodes.contains(p.take(i).mkString(",")) && p(i) >= 0 &&
            p(i) < k, s"query $qid path $p")
        }
      }
    }
  }

  test("beam keeps at most `beams` paths and is deterministic") {
    val rng = new scala.util.Random(23)
    val data = (0 until 200).map(i =>
      (i.toLong, Array.fill(4)(rng.nextGaussian().toFloat)))
    val df = data.toDF("doc_id", "vec").cache()
    val levels = HierarchicalKMeans.fitLevels(df, "vec", k = 4, depth = 2,
      seed = 9L, maxIter = 10)
    val batch = data.take(6).map { case (id, v) => (java.lang.Long.valueOf(id), v) }
    // both plans, and the distributed one over 3 partitions, give the
    // reference's rows
    val a = beamBothPlans(batch, levels, depth = 2, beams = 3)
    assert(a.groupBy(_._1).size == 6)
    assert(a.groupBy(_._1).values.forall(_.length <= 3))
  }

  /** A trie whose far 3-point clump stays a leaf at depth 1. */
  private lazy val leafyTrie = {
    val rng = new scala.util.Random(43)
    val far = (0 until 3).map(i => (1000L + i, Array(50f + i, 50f, 0f, 0f)))
    val near = (0 until 300).map(i =>
      (i.toLong, Array.fill(4)(rng.nextGaussian().toFloat)))
    val df = (far ++ near).toDF("doc_id", "vec")
    val levels = HierarchicalKMeans.fitLevels(df, "vec", k = 3, depth = 2,
      seed = 42L, maxIter = 10)
    (far, near, levels)
  }

  test("a hostile batch gets the reference's beams on both plans") {
    val (far, near, levels) = leafyTrie
    val v = near.take(4).map(_._2)
    val batch = Seq[(java.lang.Long, Array[Float])](
      (1L, v(0)), (1L, v(1)), // one id, two vectors: ranked together
      (2L, far(0)._2), // into the depth-1 leaf
      (3L, Array.fill(4)(Float.NaN)),
      (4L, null), // no vector, no beams
      (null, v(2)), (null, v(3)), // the NULL id is one group
      (5L, Array(0f, 0f, 0f, 0f)))
    for (beams <- Seq(1, 4, 9)) {
      val rows = beamBothPlans(batch, levels, depth = 2, beams = beams)
      assert(rows.map(_._1).toSet == Set(Some(1L), Some(2L), Some(3L), None, Some(5L)))
      assert(rows.count(_._1 == Some(1L)) == math.min(beams, 2 * 9))
      assert(rows.exists(r => r._1 == Some(2L) && r._3.length == 1),
        "the leaf beam did not carry")
    }
    assert(beamBothPlans(Nil, levels, depth = 2, beams = 4).isEmpty)
    assert(beamBothPlans(Seq((7L, null)), levels, depth = 2, beams = 4).isEmpty)
  }

  test("a driver-resident beam batch runs one job, and falls back past the broadcast threshold") {
    val (_, near, levels) = leafyTrie
    val batch = near.take(8).map { case (id, v) => (java.lang.Long.valueOf(id), v) }
    val local = localQueries(batch)
    val want = referenceRows(levels, batch, beams = 4)
    levels.count()
    val jobs = countJobs {
      assert(beamRows(HierarchicalKMeans.beamSearchByLevels(local, levels,
        depth = 2, beams = 4)) == want)
    }
    assert(jobs <= 1, s"the driver plan ran $jobs jobs")
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.getOption(key)
    // broadcasts off, then a threshold below the trie's size
    try for (threshold <- Seq("-1", "100")) {
      spark.conf.set(key, threshold)
      val out = HierarchicalKMeans.beamSearchByLevels(local, levels, depth = 2, beams = 4)
      assert(!isLocal(out), s"threshold $threshold: the batch stayed on the driver")
      assert(beamRows(out) == want, s"threshold $threshold")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("a NULL vector gets an empty HKM path") {
    val (far, near, levels) = leafyTrie
    val docs = Seq[(Long, Array[Float])]((1L, near.head._2), (2L, null),
      (3L, far.head._2)).toDF("doc_id", "vec")
    val paths = HierarchicalKMeans.assignByLevels(docs, levels, depth = 2)
      .as[(Long, Seq[Int])].collect().toMap
    val nodes = HkmReference.nodes(levels)
    assert(paths(2L).isEmpty)
    assert(paths(1L) == HkmReference.assign(nodes, near.head._2))
    assert(paths(3L) == HkmReference.assign(nodes, far.head._2) && paths(3L).length == 1)
  }

  test("assignByLevels runs two broadcasts and one result job at any depth ≥ 2") {
    // level 0 joins the root row alone: the optimizer carries the root
    // prefix "" into the node frame, so that broadcast is one filtered
    // row, and every deeper level shares the broadcast of the whole frame
    val rng = new scala.util.Random(47)
    val df = (0 until 600).map(i =>
      (i.toLong, Array.fill(4)(rng.nextGaussian().toFloat)))
      .toDF("doc_id", "vec").cache()
    df.count()
    for (depth <- Seq(2, 3)) {
      val levels = HierarchicalKMeans.fitLevels(df, "vec", k = 3, depth = depth,
        seed = 4L, maxIter = 5)
      levels.count()
      val names = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      withListener(new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          names.add(
            if (Option(js.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
                .exists(_.contains("broadcast exchange"))) "broadcast"
            else "result")
      })(HierarchicalKMeans.assignByLevels(df, levels, depth).collect())
      val jobs = names.toArray.toSeq.map(_.toString)
      assert(jobs.sorted == Seq("broadcast", "broadcast", "result"),
        s"depth $depth: ${jobs.mkString("; ")}")
    }
  }

  test("bounded node sampling stays partitioning-independent") {
    val rng = new scala.util.Random(41)
    val df = (0 until 600).map(i =>
      (i.toLong, Array.fill(4)(rng.nextGaussian().toFloat)))
      .toDF("doc_id", "vec")
    // sampleCap far below the root size: the fit must pick the SAME
    // lowest-scrambled-rank sample regardless of how rows are partitioned
    val a = HierarchicalKMeans.fitLevels(df, "vec", k = 3, depth = 2,
      seed = 8L, maxIter = 8, sampleCap = 64)
    val b = HierarchicalKMeans.fitLevels(df.repartition(17), "vec", k = 3,
      depth = 2, seed = 8L, maxIter = 8, sampleCap = 64)
    def flat(levels: org.apache.spark.sql.DataFrame) =
      HkmReference.nodes(levels).map { case (p, c) => (p, c.flatten.toSeq) }
    assert(flat(a).size >= 2)
    assert(flat(a) == flat(b),
      "tries diverged across partitionings under bounded sampling")
  }

  test("fitLevels/assignByLevels == fit/assign (distributed path parity)") {
    val rng = new scala.util.Random(19)
    // includes the variable-depth case: a far 3-point clump stays a leaf
    val far = (0 until 3).map(i => (1000L + i, Array(50f + i, 50f, 0f, 0f)))
    val near = (0 until 400).map(i =>
      (i.toLong, Array.fill(4)(rng.nextGaussian().toFloat)))
    val data = far ++ near
    val df = data.toDF("doc_id", "vec").cache()
    // the plain-Scala fit (all members, no sampling or shuffle) and walk
    // are the reference for the distributed fit and the join descent
    val ref = HkmReference.fit(data, k = 3, depth = 3, seed = 42L,
      maxIter = 10)
    val levels = HierarchicalKMeans.fitLevels(df, "vec", k = 3, depth = 3,
      seed = 42L, maxIter = 10)
    // identical codebooks node for node...
    val fromLevels = HkmReference.nodes(levels)
    assert(fromLevels.keySet == ref.keySet, "trained node sets diverged")
    ref.foreach { case (p, cents) =>
      assert(fromLevels(p).map(_.toSeq).toSeq == cents.map(_.toSeq).toSeq,
        s"trained codebook diverged at node '$p'")
    }
    // ...and identical assignments doc for doc (incl. short leaf paths)
    val got = HierarchicalKMeans.assignByLevels(df, levels, depth = 3)
      .as[(Long, Seq[Int])].collect().toMap
    assert(got == data.map { case (id, v) => id -> HkmReference.assign(ref, v) }
      .toMap, "assignment paths diverged between the walk and join descent")
    assert(got.values.exists(_.length == 1) && got.values.exists(_.length == 3))
  }

  test("assignment is partitioning-independent given a trained tree") {
    val rng = new scala.util.Random(3)
    val df = (0 until 200).map(i =>
      (i.toLong, Array.fill(4)(rng.nextGaussian().toFloat)))
      .toDF("doc_id", "vec").cache()
    val levels = HierarchicalKMeans.fitLevels(df, "vec", k = 2, depth = 3,
      seed = 5L, maxIter = 5)
    val a = HierarchicalKMeans.assignByLevels(df, levels, depth = 3)
      .collect().toSet
    val b = HierarchicalKMeans.assignByLevels(df.repartition(13), levels,
      depth = 3).collect().toSet
    assert(a == b)
  }
}
