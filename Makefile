# Driver targets for the engine (the reference's Makefile deploys AWS
# infra; this one runs the engine locally).

.PHONY: test bench bench-small demo smoke perfbench perfbench-selftest

test:
	python -m pytest tests/ -q

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
