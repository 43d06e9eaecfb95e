package graft.pipeline

import graft.SparkSpec

class NgramLMSpec extends SparkSpec {
  import spark.implicits._

  test("bigram model and mean log-prob match the hand computation") {
    // corpus: "a b a b" + "a b" → bigrams: (a,b)×3, (b,a)×1; V = 2
    val docs = Seq((0L, "a b a b"), (1L, "a b")).toDF("doc_id", "text")
    val m = NgramLM.train(docs)
    assert(m.vocabSize == 2L)
    val bc = m.bigrams.as[(String, String, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(bc == Map(("a", "b") -> 3L, ("b", "a") -> 1L))
    val uc = m.unigrams.as[(String, Long)].collect().toMap
    assert(uc == Map("a" -> 3L, "b" -> 1L))

    val got = NgramLM.score(docs, m)
      .select("doc_id", "n_bigrams", "avg_logp")
      .as[(Long, Long, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    // p(b|a) = (3+1)/(3+2) = 0.8; p(a|b) = (1+1)/(1+2) = 2/3
    val lpAB = math.log((3 + 1.0) / (3 + 2.0))
    val lpBA = math.log((1 + 1.0) / (1 + 2.0))
    val doc0 = ((lpAB + lpBA) + lpAB) / 3.0 // fold in position order
    assert(got(0L) == (3L, doc0))
    assert(got(1L) == (1L, lpAB))
  }

  test("unseen bigrams smooth instead of failing (held-out scoring)") {
    val train = Seq((0L, "a b a b")).toDF("doc_id", "text")
    val m = NgramLM.train(train)
    val held = Seq((9L, "b b z a")).toDF("doc_id", "text")
    val got = NgramLM.score(held, m)
      .select("doc_id", "n_bigrams", "avg_logp")
      .as[(Long, Long, Double)].collect().head
    // (b,b): c=0, cw(b)=1 → ln(1/3); (b,z): same; (z,a): cw(z)=0 → ln(1/2)
    val want = (math.log(1.0 / 3) + math.log(1.0 / 3) + math.log(1.0 / 2)) / 3.0
    assert(got == (9L, 3L, want))
  }

  test("scoring is partitioning-independent (ordered fold, not sum)") {
    val docs = graft.io.Tables.load(spark, sf("0.001"), "documents")
    val m = NgramLM.train(docs)
    val a = NgramLM.score(docs, m).collect().toSet
    val b = NgramLM.score(docs.repartition(13), m).collect().toSet
    assert(a == b && a.nonEmpty)
  }

  test("ccnet buckets: tertiles by fluency, head = most fluent") {
    // doc id carries id junk tokens after a fixed fluent prefix: more
    // junk bigrams → strictly lower mean log-prob, so scores are
    // distinct and monotone-decreasing in id
    val docs = (0L until 60L).map { id =>
      val fluent = Seq.fill(8)("the cat sat on the mat").mkString(" ")
      val junk = (0 until id.toInt).map(j => s"zq${id}x$j").mkString(" ")
      (id, (fluent + " " + junk).trim)
    }.toDF("doc_id", "text")
    val m = NgramLM.train(docs)
    val scored = NgramLM.score(docs, m)
    // sampleK covers the whole corpus → cutoffs are exact corpus tertiles
    val r = NgramLM.ccnetBuckets(scored, sampleK = 300).collect()
      .map(row => (row.getLong(0), row.getLong(1), row.getString(2)))
    assert(r.length == 60)
    // precondition for the exact-tertile expectation: distinct scores,
    // monotone in id
    val byId = r.sortBy(_._1).map(_._2)
    assert(byId.distinct.length == 60)
    assert(byId.zip(byId.tail).forall { case (a, b) => a > b })
    val byBucket = r.groupBy(_._3).view.mapValues(_.map(_._1).toSet).toMap
    assert(byBucket("head") == (0L until 20L).toSet, s"head: $byBucket")
    assert(byBucket("middle") == (20L until 40L).toSet)
    assert(byBucket("tail") == (40L until 60L).toSet)
  }

  test("ccnet buckets: bounded-sample cutoffs are partitioning-independent") {
    val docs = graft.io.Tables.load(spark, sf("0.001"), "documents")
    val m = NgramLM.train(docs)
    val scored = NgramLM.score(docs, m)
    val a = NgramLM.ccnetBuckets(scored, sampleK = 20).collect().toSet
    val b = NgramLM.ccnetBuckets(scored.repartition(13), sampleK = 20)
      .collect().toSet
    assert(a == b && a.nonEmpty)
    // with a 20-doc sample the cutoffs still 3-way split the corpus
    val buckets = a.map(_.getString(2))
    assert(buckets == Set("head", "middle", "tail"))
  }

  test("ccnet buckets: degenerate corpora (one scored doc, all-tied scores)") {
    import org.apache.spark.sql.functions._
    // a single scored doc: k1 = k2 = 1, both cutoffs its own score → head
    val one = Seq((7L, "alpha beta gamma")).toDF("doc_id", "text")
    val m1 = NgramLM.train(one)
    val r1 = NgramLM.ccnetBuckets(NgramLM.score(one, m1)).collect()
    assert(r1.length == 1 && r1(0).getString(2) == "head")
    // identical docs → fully tied scores: >= cutoffs put EVERY doc in
    // head (ties take the better bucket; no arbitrary splitting)
    val tied = (0L until 9L).map((_, "the cat sat")).toDF("doc_id", "text")
    val m2 = NgramLM.train(tied)
    val r2 = NgramLM.ccnetBuckets(NgramLM.score(tied, m2)).collect()
    assert(r2.length == 9 && r2.forall(_.getString(2) == "head"))
  }

  test("ccnetBucketsOf: a duplicated id is bucketed once, on its rows' pooled bigrams") {
    // ids are meant to be unique (documented, unchecked); this pins what
    // a repeated id does instead of failing: doc 5 appears twice, once
    // with 28 bigrams and once with 3
    val fluent = Seq.fill(4)("the cat sat on the mat").mkString(" ")
    val docs = ((0L until 30L).map { id =>
      (id, fluent + (0 until id.toInt).map(j => s" zq${id}x$j").mkString)
    } :+ ((5L, "zz yy xx ww"))).toDF("doc_id", "text")
    val m = NgramLM.train(docs)
    val rows = NgramLM.ccnetBucketsOf(docs, m, sampleK = 300).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2)))
    assert(rows.length == 30, "one output row per distinct id")
    val (nBigrams, avg) = NgramLM.score(docs, m).where($"doc_id" === 5L)
      .select("n_bigrams", "avg_logp").as[(Long, Double)].head()
    assert(nBigrams == 31L)
    assert(rows.toMap.apply(5L)._1 == math.floor(avg * 1000000.0 + 0.5).toLong)
    // with a sample covering the corpus, the cutoffs agree with
    // ccnetBuckets over the same pooled scores
    val viaScored = NgramLM.ccnetBuckets(NgramLM.score(docs, m), sampleK = 300)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2)))
    assert(rows.toMap == viaScored.toMap)
  }

  test("cutoffsMicro: the frozen (t1, t2) reproduce ccnetBuckets exactly") {
    // the artifact-production API the streaming door's FrozenArtifacts
    // consume: bucketing every doc by the frozen cutoffs must equal the
    // in-plan ccnetBuckets assignment, incl. >= tie semantics
    val docs = graft.io.Tables.load(spark, sf("0.001"), "documents")
    val m = NgramLM.train(docs)
    val scored = NgramLM.score(docs, m)
    val (t1, t2) = NgramLM.cutoffsMicro(scored, sampleK = 20)
    assert(t1 >= t2, s"t1=$t1 t2=$t2")
    val want = NgramLM.ccnetBuckets(scored, sampleK = 20).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(want.nonEmpty)
    want.foreach { case (id, (micro, bucket)) =>
      val frozen =
        if (micro >= t1) "head" else if (micro >= t2) "middle" else "tail"
      assert(frozen == bucket, s"doc $id: frozen=$frozen vs $bucket")
    }
    // degenerate input fails loudly instead of returning nulls
    intercept[IllegalArgumentException] {
      NgramLM.cutoffsMicro(scored.limit(0))
    }
  }
}
