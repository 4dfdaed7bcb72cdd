# Developer workflows (see .claude/skills/verify/SKILL.md for details)

.PHONY: test verify verify-all bench cartobench cartobench-trace plans gallery

test:
	python -m pytest tests/ -q

verify:
	python tools/verify_oracle.py

verify-all:
	python tools/verify_oracle.py /root/testdata/sf0.001
	python tools/verify_oracle.py /root/testdata/sf0.01
	python tools/verify_oracle.py /root/testdata/sf0.1

bench:
	python bench.py

# The cartogram benchmark (cartobench/README.md): every workload listed in
# BENCHMARK.json for its run_seconds, one JSON result line each;
# cartobench-trace prints the per-layer metrics instead.
CARTOBENCH_RUNS = $(shell python3 -c "import json; b = json.load(open('BENCHMARK.json')); \
  print(' '.join(w['name'] + ':' + str(b['run_seconds']) for w in b['workloads']))")

cartobench:
	for r in $(CARTOBENCH_RUNS); do \
	  python3 cartobench/run.py --workload $${r%:*} --seed 1 \
	    --seconds $${r#*:} --trace 0 || exit 1; done

cartobench-trace:
	for r in $(CARTOBENCH_RUNS); do \
	  python3 cartobench/run.py --workload $${r%:*} --seed 1 \
	    --seconds $${r#*:} --trace 1 || exit 1; done

plans:
	python tools/explain_plans.py

gallery:
	python tools/run_gallery.py
