package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** Dumps formatted physical plans of representative queries to
  * docs/EXPLAIN.md — the pushdown/codegen evidence (PushedFilters,
  * ReadSchema, WholeStageCodegen spans) referenced from IMPLEMENTATION.md.
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", 8)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = "/root/testdata/sf0.01"
    val picks = Seq(
      ("q_tpch_pricing", "filter + agg: expect PushedFilters on l_shipdate and pruned ReadSchema"),
      ("q_tpch_nation_revenue", "broadcast joins: expect BroadcastHashJoin, no SortMergeJoin"),
      ("q_p7_resume", "anti-join: expect BroadcastHashJoin LeftAnti + pruned ReadSchema (doc_id, n_chars)"),
      ("q_textq_stats", "pure projection: expect single WholeStageCodegen over the scan"),
      ("q_ann_topk", "fused cosine kernel: one MapPartitions over the corpus computes sims against the task-broadcast query set AND keeps per-partition top-k, so the window re-ranks <= k rows per query per task (round 6; was a broadcast nested loop + full-size window)"),
      ("q_mm_meta", "metadata projection: payload dropped at the meta Project, never flows downstream"),
      ("q_mm_meta_png", "header parse as pure expression columns: the meta Project is all substring/hex/conv (codegen-able, no UDF); the MapPartitions beneath it is the TEST-DATA PNG generator, not part of the parse path"),
      ("q_a1_vocab", "two-phase rank: Window PARTITIONED by __pid (parallel) — no un-partitioned global window anywhere"),
      ("q_ann_lsh", "LSH: banded equi-join (no cartesian), fused per-task signature kernel (plane constants hashed once per task, not per row - round 6), query-side multi-probe Generate, one corpus payload hash join + fused cosine kernel, WindowGroupLimit for top-k"),
      ("q_ann_cosine_dupes", "embedding-cosine near-dup: band buckets capped map-side (ObjectHashAggregate of the k smallest ids, no Window) and pairs enumerated inside each bucket (no self-join, no cartesian), exact cosine only inside buckets"),
      ("q_dedup_minhash", "minhash: ONE fused mapPartitions signature build (no shingle explode/agg); candidate pairs via a bounded map-side-capped min-k aggregation per (band, band_hash) bucket with local pair enumeration (round 6; was a row_number window cap + capped self-join — the candidate stage sits behind the checkpoint in this plan, see plans/r06/dedup_minhash_candidates_*.txt); verification = candidate pairs hash-joined to per-doc shingle-SET rows (built map-side, candidate-incident docs only) + an allocation-free sorted-merge common-count kernel (round 6; was array_intersect) — no pairs x shingles expansion, no corpus-wide distinct"),
      ("q_j8_compare", "J8 cross-set compare: BOTH keyed sides capped map-side (ObjectHashAggregate of the k smallest ids per key, no Window) before the equi-join"),
      ("q_kg_triples", "full pipeline: InMemoryTableScan of the single detection cache; canon joins hint-free (AQE picks broadcast)"))
    val sb = new StringBuilder
    sb.append("# EXPLAIN — physical-plan evidence (generated by graft.ExplainDump)\n\n")
    sb.append("Run at sf0.01, local[8], AQE on. Checked properties noted per plan.\n\n")
    sb.append("Runtime evidence beyond plans: the ED pair-scoring stage executes\n")
    sb.append("EXACTLY ONCE per pipeline run across all consumers (CC edge count,\n")
    sb.append("CC rounds, triples) — asserted by an accumulator in PipelineSpec\n")
    sb.append("(\"pair scoring executes exactly once\"); the q_kg_triples plan below\n")
    sb.append("shows the single InMemoryRelation detection cache both views read.\n")
    for ((name, note) <- picks) {
      val df = SparkEntry.queries(name)(spark, dir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      sb.append(s"\n## $name\n\n$note\n\n```\n")
      sb.append(plan.linesIterator.take(80).mkString("\n"))
      sb.append("\n```\n")
    }
    sb.append(annTradeoffSection)
    Files.createDirectories(Paths.get("/root/repo/docs"))
    Files.writeString(Paths.get("/root/repo/docs/EXPLAIN.md"), sb.toString)
    println("WROTE docs/EXPLAIN.md")
    spark.stop()
  }

  /** Committed LSH ANN tuning evidence (VERDICT r03 next-round #4).
    * Measured 2026-08-17 with `graft.AnnSweep` (100 queries, k=5, warm
    * min-of-1 after a warm-up run, local[16]); re-run AnnSweep to refresh.
    */
  private val annTradeoffSection: String =
    """
## LSH ANN tuning: (nPlanes, nBands, multiProbe) → recall / latency

Measured with `graft.AnnSweep` (reproducible; 100 queries, k=5).
`bandBits = nPlanes / nBands`; a band has 2^bandBits buckets, so the
candidate volume per query scales with corpus / 2^bandBits per band —
recall and cost BOTH rise as bandBits falls. Multi-probe adds the
(1+bandBits) one-bit-neighbor buckets on the QUERY side only: a large
recall gain whose cost stays off the corpus side (the right trade when
the corpus dwarfs the query set).

sf0.1 (corpus 2000):

| nPlanes | nBands | bandBits | multiProbe | recall@5 | latency |
|---|---|---|---|---|---|
|  8 | 4 | 2 | off | 0.860 | 2.1 s |
|  8 | 4 | 2 | on  | 1.000 | 2.6 s |
| 16 | 4 | 4 | off | 0.494 | 1.9 s |
| **16** | **4** | **4** | **on**  | **0.956** | **4.6 s** |
| 16 | 8 | 2 | off | 0.988 | 15.4 s |
| 16 | 8 | 2 | on  | 1.000 | 19.3 s |
| 24 | 8 | 3 | on  | 1.000 | 21.0 s |
| 32 | 4 | 8 | on  | 0.468 | 3.7 s |
| 32 | 8 | 4 | on  | 1.000 | 9.2 s |

sf0.01 (corpus 500): default (16, 4, on) measures recall **0.908** —
the floor asserted in `sbt test` (OpsSpec); sf0.001 measures 1.0.

Reading the table: bandBits=2 rows reach ~1.0 recall by brute force in
disguise (4 buckets/band → each query meets ~corpus/4 candidates per
band — the 15–21 s rows); bandBits≥6 starves candidates even with
multi-probe. The shipped default (16, 4, multi-probe on) sits on the
knee: 0.956 recall at ~3% of the corpus per band, scaling to larger
corpora by raising nPlanes with nBands to hold bandBits ≈
log2(corpus / wanted-candidates).
"""
}
