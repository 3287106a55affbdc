# Driver targets for the engine (the reference's Makefile deploys AWS
# infra; this one runs the engine locally).

.PHONY: test prover-gate dml-gate pipeline-gate bench bench-small demo smoke perfbench perfbench-selftest perfbench-ab

# The ROADMAP tier-1 command.
test:
	export SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local; \
	timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

# The stats-prover soundness gate on its own: the property test against
# Spark's evaluation plus the verdict table and pruning integration tests.
prover-gate:
	python -m pytest tests/test_prover_properties.py tests/test_conjunctive_prover.py -q -p no:cacheprovider

# The row-level DML gate on its own: the delete/update cell contract, the
# snapshot table's DML/CDF tests, the commit protocol's crash points, the
# change-feed stream tests, and the log-planned and partitioned-table
# reads of the change feed.
dml-gate:
	python -m pytest tests/test_row_dml.py tests/test_snapshots.py tests/test_commit_protocol.py \
	  tests/test_snapshot_stream.py tests/test_log_planned_reads.py tests/test_partitioned_table.py \
	  -q -p no:cacheprovider

# The landing -> consumer gate on its own: the batch pipeline (with its
# job-free planning pins, the driver-side schema parity and the overlapped
# write failures), the incremental runner, and the parity suite over the
# batch, incremental and snapshot-committed modes, which share one transform.
pipeline-gate:
	python -m pytest tests/test_pipeline.py tests/test_pipeline_modes.py tests/test_incremental.py \
	  -q -p no:cacheprovider

bench:
	python bench.py

bench-small:
	SPARK_GRAFT_SF_DIR=/root/testdata/sf0.01 python bench.py

# The repository benchmark (perfbench/README.md): one seeded workload per
# run, e.g. `make perfbench W=snapshot_dml SEED=3 TRACE=1`.
W ?= taxi_elt
SEED ?= 1
TRACE ?= 0

perfbench:
	python3 perfbench/run.py --workload $(W) --seed $(SEED) --seconds 12 --trace $(TRACE)

perfbench-selftest:
	python3 perfbench/selftest.py

# Interleaved A/B against another checkout (scripts/perfbench_ab.py), e.g.
# `make perfbench-ab PARENT=../parent W=snapshot_dml SEEDS=1101-1110`.
SEEDS ?= 1-10

perfbench-ab:
	@test -n "$(PARENT)" || { echo "perfbench-ab: set PARENT=<checkout>"; exit 2; }
	python3 scripts/perfbench_ab.py --parent $(PARENT) --workload $(W) --seeds $(SEEDS)

demo:
	python examples/taxi_pipeline_demo.py

smoke:
	python -c "import __spark_entry__ as e; \
from nyc_taxi_data_pipeline_elt_spark.session import get_spark; \
df = e.entry(get_spark('smoke')); print(df.count(), 'rows'); df.show(5)"

# Reproduce the SCALING.md sf1 decade: synthesize the 10x corpus
# (constant local density; quality-gate-preserving cipher) and probe
# the heavy families at both scales (min-of-2 warm, fresh JVM per SF).
SCALING_QUERIES := dedup_spans_corpus dedup_containment_pairs \
  dedup_ngram_jaccard dedup_minhash_lsh dedup_minhash_lsh_capped \
  embedding_neardup_blocked knn_join_embeddings customer_entity_leaders \
  dedup_canonical_docs dedup_clusters heavy_hitter_tokens \
  boilerplate_prefix_report curate_corpus_pipeline

scaling-sf1:
	python scripts/make_sf1.py
	python scripts/scaling_probe.py /root/testdata/sf0.1 $(SCALING_QUERIES)
	python scripts/scaling_probe.py .scaling_sf1 $(SCALING_QUERIES)
