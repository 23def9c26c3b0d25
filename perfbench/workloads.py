"""Workload definitions: the rows each workload runs and why it was chosen.
The benchmark runs one closed-loop client (the next op starts when the
previous one ends) on local[nproc], over the input gen.py makes from the
seed.

A run pays its set-up (JVM, session and the workload's warm-up passes),
then times whole passes over the ops; the row sets keep a run to about a
minute on 4 cores."""

MODELS = ["bronze_customers", "bronze_orders", "bronze_payments",
          "silver_customers", "silver_orders", "silver_payments",
          "gold_customer_summary", "gold_order_metrics", "gold_revenue_analysis"]

# One short read query each of the mart, TPC-H, events and sketch families.
ANALYST_ROWS = ["revenue_cube", "tpch_q5_nation_revenue", "events_sessions",
                "sketch_kmv_distinct"]

TRAINING_ROWS = [
    "model_logreg", "lm_greedy_decode", "dedup_minhash_lsh", "ann_topk",
    "bpe_merges", "streaming_windowed_parity", "multimodal_frames"]

# name -> ops, the DuckDB-checked row counts, the warm-up passes paid in
# set-up, the nominal seconds of one timed pass on 4 cores (a run times
# round(seconds / pass_s) passes, at least one), and why.
WORKLOADS = {
    "medallion_run": {
        "ops": ["pipeline"] + ANALYST_ROWS,
        "expected": ["model:" + m for m in MODELS] + ["dq_summary"] + ANALYST_ROWS,
        # no warm-up: the timed pipeline op is the process's first, as in
        # every `graft.Run`
        "warm_passes": 0,
        "pass_s": 40,
        "why": "the reference's own job (dbt run, test, source freshness), the only "
               "one that writes tables, then short analyst reads over the marts",
    },
    "training_ops": {
        "ops": TRAINING_ROWS,
        "expected": TRAINING_ROWS,
        "warm_passes": 1,
        "pass_s": 10,
        "why": "training-data operators with driver-synchronized chains of tiny "
               "jobs, fingerprint-cached intermediates and pinned inputs",
    },
}
