package graft

import org.apache.spark.sql.SparkSession

/** Per-query whole-stage-codegen policy (round 14, guide §1.2 step 2 /
  * §4 "expressions and codegen").
  *
  * The RTA star/scd2/date-parse family builds VERY wide projections
  * (dozens of chained regexp/when/date expressions per row). Fusing
  * them into one whole-stage processNext produces generated methods
  * past HotSpot's DontCompileHugeMethods limit (HugeMethodLimit = 8000
  * bytecodes), so the fused method runs in the BYTECODE INTERPRETER —
  * slower than the unfused path, whose per-operator projections
  * compile to small, JIT-friendly methods. The same class of bug as
  * round 13's quantize kernel (VectorExpressions.Quantize1000), but
  * here the width is intrinsic to the declared pipeline semantics, so
  * the fix is to stop fusing rather than to rewrite the expressions.
  *
  * Evidence (P45/P46, interleaved same-JVM medians):
  *  - stage(rawSynth) noop at sf0.1: 2.10 s fused vs 1.38 s unfused
  *    while the stage is pure CPU (27 s task time / 19.4 s CPU on 32
  *    tasks) — a per-row effect, not fixed overhead;
  *  - q_star_fact sf0.1 5.21 -> 4.43, sf1 15.6 -> 11.1 (two fresh JVM
  *    sessions agree); q_star_dim_vehicle sf1 8.7 -> 6.1;
  *  - Spark's own escape hatch confirms the mechanism: with
  *    spark.sql.codegen.hugeMethodLimit=8000 (fall back exactly when
  *    the JIT would refuse) q_star_fact sf1 reads 12.4 vs 15.6;
  *  - the scd2/cdc/date-parse family shows the same direction at both
  *    SFs (q_scd2_merge 1.03 -> 0.81 sf0.1, 1.79 -> 1.41 sf1;
  *    q_cdc_apply -17%/-9%; q_date_parse_multi -17%/-14%).
  * Queries that measured NEUTRAL or NEGATIVE unfused at either SF
  * (q_fact_assembly, q1_pricing_summary, q_misalign_repair,
  * q_resolution_fuzzy, ...) stay on the default fused path.
  *
  * SparkEntry.queries applies the policy around every builder — before
  * build (so a builder's eager in-query actions, e.g. the streaming
  * parities, run under it) and again after (so the caller's terminal
  * action does, even if the builder re-set session conf). Every
  * non-flagged query EXPLICITLY resets the default, so nothing leaks
  * between sequentially-run queries. Scale note: the flagged set's
  * method-size pathology is data-independent (bytecode size does not
  * grow with rows, and the interpretation penalty is per-row), so the
  * unfused choice holds at any corpus size. */
object CodegenPolicy {
  /** Queries whose fused whole-stage methods blow the JIT method
    * limit; run them with per-operator codegen instead. */
  private[graft] val WholeStageOff: Set[String] = Set(
    "q_star_fact", "q_star_dim_vehicle",
    "q_scd2_fold", "q_scd2_merge", "q_scd2_orders",
    "q_cdc_apply",
    "q_date_parse_multi", "q_date_parse_yy",
    "q_dedup_simhash", "q_decontaminate",
    "q_dim_build", "q_surrogate_keys",
    "q_stream_scd2_parity")

  def apply(spark: SparkSession, name: String): Unit = {
    spark.conf.set("spark.sql.codegen.wholeStage",
      (!WholeStageOff(name)).toString)
  }
}
