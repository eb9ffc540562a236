# Engine developer entry points (the reference shipped a Makefile building
# its Search binary + static lib; ours drives tests, bench, and profiles).

PY ?= python3

.PHONY: test bench perf perf-selftest profile search smoke oracle-sf01

# The tier-1 gate (ROADMAP.md): every core, shared local dirs, a hard
# timeout, and a collection error reported without hiding the rest.
test:
	SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local \
	timeout -k 10 2670 $(PY) -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

bench:
	$(PY) bench.py

# One closed-loop run of a BENCHMARK.json workload,
# e.g. make perf W=search_relational SEED=3
W ?= graph_vector_ingest
SEED ?= 1
perf:
	$(PY) perfbench/run.py --workload $(W) --seed $(SEED) --seconds 25

# The benchmark harness's own tests (event-log parser, spans, oracle).
perf-selftest:
	$(PY) -m pytest perfbench/tests -q

# Two-scale oracle gate: the FULL DuckDB differential at sf0.1 (10x the
# driver compare scale). Round-close gate — it has caught bugs the
# small scales cannot see (cumsum partition instability, range-frame
# key truncation, the bigram decimal half-tie). ~30 min on local[8].
oracle-sf01:
	$(PY) -m pytest tests/test_oracle_sf01.py -m twoscale -q

# Per-query profile from Spark's event log (the benchmark's parser);
# with no query names it rewrites docs/SHUFFLE_AUDIT.json at sf0.1.
profile:
	$(PY) docs/query_profile.py

# usage: make search WORD=.cpp DIRS=/root/reference
search:
	$(PY) -m mapreduce__spark.search_cli $(WORD) $(DIRS)

smoke:
	$(PY) -c "from pyspark.sql import SparkSession; import __spark_entry__ as e; \
	          s = SparkSession.builder.master('local[4]').getOrCreate(); \
	          print('entry rows:', e.entry(s).count())"
