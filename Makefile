# Developer entry points (the reference drives everything through
# `make` too — Makefile at reference repo root).

SF ?= /root/testdata/sf0.01

.PHONY: test oracle bench bench-check smoke examples plans scaling sf1 sf10 sf30 verify probes profile

# the full drive recipe (.claude/skills/verify/SKILL.md) in one
# command: driver contract -> full oracle gate replica -> pytest
verify: smoke oracle test

plans:
	python tools/plan_audit.py

# local decade-up datasets under .localdata/ (each reads the level
# below: sf0.1 -> sf1 -> sf10 -> sf30); sf1_skew is
# `python tools/gen_local.py sf1_skew`
sf1 sf10 sf30:
	python tools/gen_local.py $@

# SCALING.md from query_profile.profile() rows (2 timed rounds per SF)
scaling:
	python tools/scale_probe.py

# where each named query's seconds go (build, jobs, executor,
# shuffle, Python workers), one JSON line per query from Spark's
# event log: make profile Q="tpch_q8 dedup_clusters" SF=<sf dir>
profile:
	python tools/query_profile.py $(SF) $(Q)

test:
	python -m pytest tests/ -x -q
	python3 perfbench/test_eventlog.py

oracle:
	python tools/oracle_check.py $(SF)

# regenerate every adversarial probe corpus (SURVEY §7f classes) and
# run the full oracle gate over each — ~1-1.5 h for the full matrix;
# narrow with: python tools/probe_sweep.py --classes X --queries Y
probes:
	python tools/probe_sweep.py

bench:
	python bench.py

# regression gate over bench_history.jsonl: fails (exit 1) only when
# the LAST TWO valid runs at the current sf are BOTH >1.5x the
# per-query history minimum (the documented confirm-across-two-runs
# noise discipline). Run two fresh `make bench` first.
bench-check:
	python tools/bench_check.py

smoke:
	python -c "import __spark_entry__ as e; from pyspark.sql import SparkSession; \
	s = SparkSession.builder.master('local[4]').getOrCreate(); \
	print(e.entry(s).count(), 'rows')"

examples:
	python examples/stocks_pipeline.py /root/testdata/sf0.001
	python examples/wordcount_pipeline.py /root/testdata/sf0.001 10
	python examples/llm_corpus_pipeline.py /root/testdata/sf0.001
	python examples/stocks_streaming.py /root/testdata/sf0.001
	python examples/ingest_curation_streaming.py /root/testdata/sf0.001
