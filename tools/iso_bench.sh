#!/bin/bash
# Machine-checkable ISOLATED benchmark artifact — one fresh JVM, min-of-3
# per headline key (IsoBench methodology: the arbiter BASELINE.md's noise
# band prescribes for this co-tenant VM). Writes BENCH_ISO.json so the
# judge's load-band adjudication reads a file, not prose.
#
# Usage: tools/iso_bench.sh [sfDir]   (default /root/testdata/sf0.1)
set -e
cd "$(dirname "$0")/.."
SF="${1:-/root/testdata/sf0.1}"
# IsoBench runs at Bench's master, local[$SPARK_GRAFT_CPUS] (Harness.session)
CPUS="${SPARK_GRAFT_CPUS:-4}"
KEYS="agg_daily_top_titles agg_daily_top_editors agg_multi scan_parquet \
filter_partition_prune join_inner join_star join_range join_asof \
win_rank_topn win_session topk_orderby_limit dedup_minhash dedup_text_hash \
sim_topk_cosine sim_threshold_join text_top_terms upsert_keep_latest \
delete_where_dv update_where_dv upsert_merge_dv scan_table_changes_ts \
scan_bloom_skipping scan_metadata_count scan_metadata_minmax \
scan_metadata_groupby mv_incremental_agg scan_table_changes \
scan_table_changes_diff \
graph_kcore graph_bfs_distance dedup_lsh_candidate_eval curation_dsir \
tpch_q21 dedup_simhash_wide multimodal_phash_dedup sim_ann_pq \
sim_ann_ivf_pq dq_constraints dedup_substring text_bm25 ts_mad_outlier \
gen_inline embed_kmeans dedup_semantic \
sim_mmr_rerank graph_pagerank graph_label_propagation \
graph_triangle_count graph_clustering_coeff sim_ann_ivf \
dedup_clusters_lsh join_range_binned sim_threshold_lsh"
# sf1 tier (round-15 verdict item 8): the sub-second sf0.1 floor cannot
# resolve scale-relevant effects, so the top keys are additionally
# measured one decade up, on the DETERMINISTIC 10x ScaleGen replica of
# sf0.1 (regenerated on demand — same generator, same keys).
SF1_DIR="${SF1_DIR:-/tmp/scale10x}"
SF1_KEYS="sim_mmr_rerank graph_kcore sim_ann_ivf_pq graph_pagerank \
graph_triangle_count graph_clustering_coeff graph_label_propagation \
dedup_clusters_lsh join_range_binned dedup_minhash"
LOG=$(mktemp /tmp/iso_bench.XXXXXX.log)
sbt -batch "runMain graft.tools.IsoBench $SF $KEYS" 2>&1 | tee "$LOG" \
  | grep -E "min=" || true
QUERIES=$(grep -oE '^\[info\] \{.*\}$' "$LOG" | tail -1 | sed 's/^\[info\] //')
test -n "$QUERIES" || { echo "iso_bench: no JSON line captured"; exit 1; }
if [ ! -d "$SF1_DIR" ]; then
  GENLOG=$(mktemp /tmp/iso_bench_scalegen.XXXXXX.log)
  if ! sbt -batch "runMain graft.tools.ScaleGen $SF $SF1_DIR 10" > "$GENLOG" 2>&1; then
    # the directory did not exist before this run: drop the partial
    # replica so the next run regenerates it instead of benchmarking it
    rm -rf "$SF1_DIR"
    echo "iso_bench: ScaleGen failed to build $SF1_DIR (log: $GENLOG)" >&2
    exit 1
  fi
fi
LOG1=$(mktemp /tmp/iso_bench_sf1.XXXXXX.log)
sbt -batch "runMain graft.tools.IsoBench $SF1_DIR $SF1_KEYS" 2>&1 \
  | tee "$LOG1" | grep -E "min=" || true
QUERIES1=$(grep -oE '^\[info\] \{.*\}$' "$LOG1" | tail -1 | sed 's/^\[info\] //')
test -n "$QUERIES1" || {
  echo "iso_bench: no JSON line captured from the sf1 IsoBench run (log: $LOG1)" >&2
  exit 1
}
python3 - "$QUERIES" "$SF" "$QUERIES1" "$SF1_DIR" "$CPUS" <<'EOF'
import json, sys, datetime
q = json.loads(sys.argv[1])
out = {
  "metric": "iso_min_of_3_sec",
  "methodology": "fresh JVM per run, local[%s] with %s shuffle partitions (Bench's master), untimed warm pass, min of 3 timed shots, only the named query on the session" % (sys.argv[5], sys.argv[5]),
  "sf_dir": sys.argv[2],
  "generated_utc": datetime.datetime.now(datetime.timezone.utc).isoformat(timespec="seconds"),
  "total": round(sum(q.values()), 3),
  "queries": q,
}
out["sf1_replica"] = {
  "sf_dir": sys.argv[4],
  "note": "deterministic 10x ScaleGen replica of sf0.1 (runMain graft.tools.ScaleGen <sf0.1> <dir> 10); top keys one decade up so scale-relevant effects are observable",
  "queries": json.loads(sys.argv[3]),
}
with open("BENCH_ISO.json", "w") as f:
    json.dump(out, f, indent=1, sort_keys=True)
print("wrote BENCH_ISO.json: total", out["total"], "s over", len(q), "keys")
EOF
