package graft.plans

import graft.{GraftSession, SparkEntry, SparkSpec}

/** Upper bounds on the Spark jobs that executing each gate of the
  * benchmark's `llm_ops` workload starts at sf0.001, from the same reset
  * state the benchmark uses (memos dropped, cache cleared). Each bound is
  * the count with [[SmallSortStrategy]]; a gate whose final sort falls back
  * to a range sort pays a sampling and a range-shuffle job more and fails
  * here. `txt_winnow_overlap` runs one job per shuffle stage (docs, `fp`,
  * pairs) and one for the local sort: no join or generator sits above its
  * last shuffle. */
class GateJobCountSpec extends SparkSpec {

  private val bounds = Seq(
    "dedup_exact" -> 2, "txt_bpe_apply" -> 1, "txt_winnow_overlap" -> 4,
    "sim_cosine_topk" -> 3, "emb_quantize_int8" -> 1, "smp_token_budget" -> 2,
    "pipe_rag_prep" -> 2)

  for ((gate, bound) <- bounds) test(s"$gate: execution starts at most $bound jobs") {
    GraftSession.resetGateState(spark)
    val q = SparkEntry.allQueries.find(_.name == gate).get
    val df = q.run(spark, "/root/testdata/sf0.001")
    df.queryExecution.executedPlan
    val (_, jobs) = jobsIn(df.collect())
    assert(jobs <= bound, s"$gate started $jobs jobs:\n" +
      df.queryExecution.executedPlan.toString.take(3000))
  }
}
