.PHONY: test test-all check check-big difftest bench bench-gate recall \
	recall-gate stress smoke

# default lane: pyproject addopts exclude the `slow` marker (multi-second
# curation-delta, CLI round-trip, ANN recall/republish, socket and
# streaming integration tests) so the suite fits the verification
# budget; `test-all` runs the complete suite.
test:
	python -m pytest tests/ -q

test-all:
	python -m pytest tests/ -q -m "slow or not slow"

check:
	python tools/check_oracle.py /root/testdata/sf0.01

check-big:
	python tools/check_oracle.py /root/testdata/sf0.1

difftest:
	python tools/difftest.py

# bench.py self-defends against a loaded machine: main() polls load1 and
# waits (bounded by $SPARK_GRAFT_IDLE_WAIT, default 150 s) for idle BEFORE
# timing anything, then stamps "loaded": true / "idle_waited_sec" on the
# final line if it never settled — so the recipe needs no retry loop (the
# old /tmp-captured retry also clobbered concurrent invocations).
bench:
	python bench.py

# Run the bench, save it, and alarm on any per-query regression vs the
# prior round's BENCH_r*.json (1.5x AND >0.15s absolute). OLD is passed
# explicitly so a stale /tmp/bench_new.json can never be compared
# against itself.
bench-gate:
	python bench.py --no-cold | tail -1 > /tmp/bench_new.json
	python tools/bench_gate.py /tmp/bench_new.json \
	  $$(ls BENCH_r*.json 2>/dev/null | sort | tail -1)

# recall: re-measure approximate-ANN recall@5 at the bench SF and
# RE-BASELINE the committed RECALL.json without the gate (use after an
# intentional config change) — but still through --refresh, which
# folds the old baseline into the bounded history the ratchet gate and
# the repo-pin test read; a bare --out overwrite would clobber it (the
# r10 trap class). recall-gate: measure, alarm if any config dropped
# >0.05 vs the committed baseline (or the setups are incomparable),
# and refresh the baseline only on PASS.
recall:
	python tools/recall.py /root/testdata/sf0.1 --out /tmp/recall_new.json
	python tools/recall.py --refresh /tmp/recall_new.json RECALL.json

recall-gate:
	python tools/recall.py /root/testdata/sf0.1 --out /tmp/recall_new.json
	python tools/recall.py --gate /tmp/recall_new.json RECALL.json
	python tools/recall.py --refresh /tmp/recall_new.json RECALL.json

stress:
	python tools/stress.py all 10

smoke:
	python -c "from pyspark.sql import SparkSession; import __spark_entry__ as m; \
	s = SparkSession.builder.master('local[4]').getOrCreate(); \
	print(len(m.entry(s).collect()), 'rows;', len(m.queries()), 'queries')"
