package graft

class EntrySpec extends SparkSpec {

  test("entry returns non-empty metrics") {
    val df = SparkEntry.entry(spark)
    val rows = df.collect()
    assert(rows.nonEmpty)
    // metrics are averages in [0, 1]
    rows.foreach { r =>
      val recall = r.getAs[Double]("recall")
      assert(recall >= 0.0 && recall <= 1.0)
    }
  }

  test("every oracle key has a queries entry") {
    val missing = SparkEntry.oracles.keySet.diff(SparkEntry.queries.keySet)
    assert(missing.isEmpty, s"oracles without queries: $missing")
  }

  // the documented rows-only set: operators whose output has no SQL twin
  // (a deflate bitstream — cross-checked instead by InflateCodecSpec's
  // independent RFC-1951 decoder). Anything else missing an oracle is a gap.
  private val rowsOnly = Set("text_compress_ratio")

  test("every query is SQL-oracled except the documented rows-only set") {
    val unoracled = SparkEntry.queries.keySet.diff(SparkEntry.oracles.keySet)
    assert(unoracled === rowsOnly,
      s"queries without an oracle beyond the documented set: ${unoracled.diff(rowsOnly)}")
  }

  test("each dir's generated oracles come from that dir's own artifacts") {
    import graft.oracle.GeneratedOracles
    // another dir trains first, so no oracle can fall back on it
    assert(SparkEntry.queries("rq_assign")(spark, sf("0.001")).count() > 0)
    val dir = sf("0.01")
    val sql = SparkEntry.oracles.map { case (name, oracle) =>
      name -> oracle(spark, dir)
    }
    assert(sql.keySet === SparkEntry.queries.keySet - "text_compress_ratio")
    val rq = SparkEntry.rqCodebook(spark, dir)
    GeneratedOracles.rqOracles(beams = 4, topK = 10, budget = 100,
        maxChunk = graft.index.ClusterIndexBuilder.DefaultMaxChunk,
        maxQueryId = 20).foreach { case (name, build) =>
      assert(sql(name) == build(rq), s"$name is not built from $dir's codebook")
    }
    val ivf = SparkEntry.ivfOf(spark, dir).codebook
    assert(sql("ivf_knn") ==
      GeneratedOracles.ivfKnnSql(ivf, nprobe = 4, k = 10, maxQueryId = 20))
    assert(sql("hkm_beam") == GeneratedOracles.hkmBeamSql(
      SparkEntry.hkmNodes(spark, dir), k = 4, beams = 4, maxQueryId = 20))
    assert(sql("dedup_semdedup_refined") ==
      GeneratedOracles.semDeDupRefinedSql(ivf,
        SparkEntry.semRefinedOf(spark, dir)._2, tau = 0.35, maxCell = 64))
    // the two dirs train different codebooks, so the checks above can
    // tell them apart
    assert(sql("rq_assign") != SparkEntry.oracles("rq_assign")(spark, sf("0.001")))
  }

  // pair-mining queries are legitimately empty when the fixture has no
  // near-duplicates at this sf (sf0.1 plants 8 exact dups)
  private val mayBeEmpty = Set("dedup_minhash_pairs")

  test("all queries run at sf0.001, return rows, and plan no unbroadcast cartesian") {
    // the shared catalog pass (PlanSpec audits the same plans); a
    // CartesianProduct in the pre-AQE plan means a corpus-sized
    // shuffle-shuffle cross join at scale
    CatalogSweep(spark, sf("0.001")).foreach { q =>
      assert(!q.plan.toString.contains("CartesianProduct"),
        s"query ${q.name} plans a CartesianProduct:\n${q.plan}")
      if (!mayBeEmpty(q.name)) assert(q.rows > 0, s"query ${q.name} returned 0 rows")
    }
  }

  test("funnel: stage 6 trims tokens with docs flat; stages 9/10 conserve tokenizer mass") {
    // the r16 funnel's two new invariants, asserted explicitly on top
    // of the hash oracle: span_trimmed never changes the doc count
    // (only token mass), and every tokenized token of the admitted set
    // is packed exactly once (stage 9 n_tokens == stage 10 n_tokens —
    // the conservation check in the unit a training run bills in)
    val rows = SparkEntry.queries("pipeline_curate_funnel")(spark, sf("0.001"))
      .collect()
      .map(r => r.getAs[Int]("stage_ord") ->
        (r.getAs[String]("stage"), r.getAs[Long]("n_docs"),
          r.getAs[Long]("n_tokens"))).toMap
    assert(rows.size == 10, s"funnel has ${rows.size} stages, want 10")
    val (s5, s6) = (rows(5), rows(6))
    assert(s6._1 == "span_trimmed" && s5._2 == s6._2,
      s"trim changed the doc count: ${s5._2} -> ${s6._2}")
    assert(s6._3 <= s5._3, s"trim GREW token mass: ${s5._3} -> ${s6._3}")
    val (s9, s10) = (rows(9), rows(10))
    assert(s9._1 == "tokenized" && s10._1 == "packed_sequences")
    assert(s9._3 == s10._3,
      s"tokenized mass ${s9._3} != packed mass ${s10._3} — a token was lost or duplicated")
    assert(s9._3 > 0, "tokenized stage vacuous")
  }

  test("packTokenStream: exact payload, token conservation, ±1 balance at a derived non-power-of-two shard count") {
    // the tokenizer-true export's pack/deal half (VERDICT r15 #1/#8) on
    // a synthetic id corpus sized so the DERIVED shard count is a
    // non-power-of-two (> 2·TokensPerShard tokens → 3 shards): the
    // md5-rank deal must keep the ±1 balance property at ANY count, the
    // payload must be the exact doc-order token stream cut every 128,
    // and no token may be lost or duplicated.
    import spark.implicits._
    val rng = new scala.util.Random(7)
    val docs = (0 until 90).map { i =>
      val n = 100 + rng.nextInt(41)
      (i.toLong, n.toLong, Array.tabulate(n)(j => (i * 131 + j) % 48))
    }
    val total = docs.map(_._2).sum
    val wantShards =
      (total + SparkEntry.TokensPerShard - 1) / SparkEntry.TokensPerShard
    assert(wantShards == 3, s"fixture sized wrong: $total tokens")
    val out = SparkEntry.packTokenStream(
        docs.toDF("doc_id", "n_tokens", "ids"), seqLen = 128)
      .collect()
      .map(r => (r.getAs[Long]("shard"), r.getAs[Long]("shard_pos"),
        r.getAs[Long]("seq_id"), r.getAs[Long]("n_tokens"),
        r.getAs[String]("token_ids")))
    val nSeq = (total + 127) / 128
    assert(out.length == nSeq, s"${out.length} sequences, want $nSeq")
    // payload exactness: sequences in seq_id order re-concatenate to the
    // doc-order token stream
    val stream = docs.sortBy(_._1).flatMap(_._3)
    val rebuilt = out.sortBy(_._3).flatMap(_._5.split(",").map(_.toInt))
    assert(rebuilt.toSeq == stream.toSeq, "payload is not the doc-order stream")
    // conservation + full sequences (only the last may be short)
    assert(out.map(_._4).sum == total)
    out.sortBy(_._3).dropRight(1).foreach { s =>
      assert(s._4 == 128L, s"non-final seq ${s._3} has ${s._4} tokens")
    }
    // ±1 shard balance at the non-power-of-two count, and shard_pos is
    // dense per shard
    val byShard = out.groupBy(_._1)
    assert(byShard.keySet == (0L until wantShards).toSet)
    val sizes = byShard.values.map(_.length).toSeq
    assert(sizes.max - sizes.min <= 1, s"shard imbalance: $sizes")
    byShard.foreach { case (sh, rows) =>
      assert(rows.map(_._2).sorted.toSeq == (0L until rows.length).toSeq,
        s"shard $sh positions not dense")
    }
  }

  test("ctx export stream is the admitted token streams in (cell, doc_id) order") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = sf("0.001")
    val ctx = SparkEntry.queries("pipeline_curate_export_ctx")(spark, dir)
      .select("shard", "seq_id", "n_tokens", "token_ids").collect()
    assert(ctx.nonEmpty)
    // global stream read back in sequence order
    val stream = ctx.sortBy(_.getAs[Long]("seq_id"))
      .flatMap(_.getAs[String]("token_ids").split(","))
      .map(_.toLong).toSeq
    // independent expectation: the memoized per-doc token streams,
    // concatenated in (embedding cell, doc_id) order
    val (ids, _) = SparkEntry.curateExportFrames(spark, dir)
    val cellMap = SparkEntry.ivfOf(spark, dir).cells
      .select(col("doc_id").cast("long"), col("cell").cast("long"))
      .as[(Long, Long)].collect().toMap
    val expected = ids.select(col("doc_id"), col("ids"))
      .as[(Long, Seq[Int])].collect()
      .sortBy { case (id, _) => (cellMap(id), id) }
      .flatMap(_._2.map(_.toLong)).toSeq
    assert(stream == expected,
      "ctx export must lay the token stream out in (cell, doc_id) order")
    // the md5 shard deal keeps its ±1 balance under the new ordering
    val sizes = ctx.groupBy(_.getAs[Long]("shard"))
      .view.mapValues(_.size).values.toSeq
    assert(sizes.max - sizes.min <= 1, s"shard imbalance: $sizes")
  }
}
