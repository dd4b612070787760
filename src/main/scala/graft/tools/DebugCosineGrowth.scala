package graft.tools

/** Measurement harness for the `dedup_embedding_cosine` scale
  * adjudication (VERDICT r10 "What's wrong" 2 / ADVICE: the
  * 2.00×-sf2-over-sf1 ratio was adjudicated output-bound on a
  * measurement that lived only in SURVEY prose — this tool commits it,
  * as SURVEY.md §6.2 records the edit-tier study).
  *
  * Runs the REGISTERED route ([[graft.operators.Dedup.cosinePairs]] at
  * [[graft.operators.Dedup.CosineThreshold]]) on two corpora — by
  * default the round's ScaleUp sf1 (20k vectors) and sf2 (40k) — and
  * prints, per corpus: vector count, emitted pair count, end-to-end
  * seconds (min-of-2, the bench scheme), and µs per emitted pair;
  * then the cross-corpus ratios. The claim under test: the OUTPUT
  * relation grows ~4× per 2× vectors on ScaleUp corpora (replica
  * families densify — the same §6.2 mechanism as the edit relation),
  * so a ~2× end-to-end time ratio is output-SUB-LINEAR: no algorithm
  * computing the same exact relation beats its own output growth.
  *
  * Usage: runMain graft.tools.DebugCosineGrowth [dirA] [dirB]
  *        (defaults /tmp/sf1 /tmp/sf2)
  */
object DebugCosineGrowth {
  def main(args: Array[String]): Unit = {
    val dirA = args.lift(0).getOrElse("/tmp/sf1")
    val dirB = args.lift(1).getOrElse("/tmp/sf2")
    val spark =
      graft.Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    import graft.operators.Dedup

    def measure(dir: String): (Long, Long, Double) = {
      val emb = graft.Tables.embeddings(spark, dir)
      val nVec = emb.count() // also warms the parquet footer/reader
      def once(): (Long, Double) = {
        val t0 = System.nanoTime()
        val pairs = Dedup.cosinePairs(emb, Dedup.CosineThreshold).count()
        (pairs, (System.nanoTime() - t0) / 1e9)
      }
      val (p1, t1) = once()
      val (p2, t2) = once()
      require(p1 == p2, s"nondeterministic pair count at $dir: $p1 vs $p2")
      val sec = math.min(t1, t2)
      System.err.println(
        f"[cosgrowth] $dir%-16s vectors=$nVec%8d pairs=$p1%10d " +
          f"sec=$sec%8.2f us/pair=${sec * 1e6 / math.max(1L, p1)}%8.1f")
      (nVec, p1, sec)
    }

    val (nA, pA, tA) = measure(dirA)
    val (nB, pB, tB) = measure(dirB)
    System.err.println(
      f"[cosgrowth] ratios: vectors ${nB.toDouble / nA}%.2fx  " +
        f"pairs ${pB.toDouble / pA}%.2fx  time ${tB / tA}%.2fx  " +
        f"us/pair ${(tB / pB) / (tA / pA)}%.2fx " +
        "(time-ratio < pair-ratio => output-sub-linear)")
    spark.stop()
  }
}
