package graft

/** Ad-hoc probe (test scope): `graft.Bench`'s coarse-fine serve block on
  * its own — the same sf fixtures, codebook, index and 2000-query batch
  * ([[Bench.serveBatch]]), nothing else running in the session. The batch
  * is cached, not driver-resident, so `retrieve` and `retrieveBudgeted`
  * take the distributed plan: this is the workload for that side of
  * `CoarseFineRetriever`'s plan choice (perfbench `serve` sends
  * driver-resident batches). After one warm-up call each, prints one JSON
  * line with every timed run (seconds, noop sink) and the medians.
  * `sbt 'Test/runMain graft.BudgetedProbe <sfDir> [reps]'`
  */
object BudgetedProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val reps = if (args.length > 1) args(1).toInt else 5
    val spark = LocalSession(LocalSession.envCpus())
    import graft.index.{RQTrainer, CodeAssigner, ClusterIndexBuilder}
    import graft.search.CoarseFineRetriever
    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    // Bench's engine block: the same docs, codebook and index
    val docs = SparkEntry.docVecs(spark, sfDir).cache()
    val nVec = docs.count()
    val cb = RQTrainer.fit(docs.select("doc_id", "vec"), "vec",
      numLevels = 2, k = 8, seed = 42L)
    val index = ClusterIndexBuilder.build(CodeAssigner.assign(docs, cb).cache()).cache()
    index.count()
    val serveQ = Bench.serveBatch(docs, nVec, 2000)
    val calls = Seq(
      "coarse_fine" -> (() => CoarseFineRetriever.retrieve(serveQ, index,
        docs.select("doc_id", "vec"), cb, beams = 4, k = 10)),
      "budgeted" -> (() => CoarseFineRetriever.retrieveBudgeted(serveQ, index,
        docs.select("doc_id", "vec"), cb, beams = 4, k = 10, budget = 100)))
    def run(call: () => org.apache.spark.sql.DataFrame): Double =
      timed(call().write.format("noop").mode("overwrite").save())
    calls.foreach { case (_, call) => run(call) }
    val fields = calls.map { case (name, call) =>
      val runs = (1 to reps).map(_ => run(call)).sorted
      f""""${name}_med_s":${runs(runs.size / 2)}%.4f,""" +
        s""""${name}_runs_s":${runs.map(s => f"$s%.4f").mkString("[", ",", "]")}"""
    }
    println(fields.mkString("{", ",", "}"))
    spark.stop()
  }
}
