# Convenience targets for the verification surface (see USAGE.md and
# .claude/skills/verify/SKILL.md for the full driver contract).

.PHONY: test correctness correctness-sf01 bench audit plan-fixture smoke verify \
	perfbench-ab strict-gate loc

test:
	python -m pytest tests/ -x -q

correctness:
	python tools/check_correctness.py

correctness-sf01:
	python tools/check_correctness.py /root/testdata/sf0.1

bench:
	python bench.py

audit:
	python tools/plan_audit.py

# regenerate the plan-drift fixture test_plan_guards pins the registry
# against (run when a plan change is INTENDED; review the diff)
plan-fixture:
	python tools/plan_audit.py /root/testdata/sf0.001 \
		--fixture-out tests/fixtures/plan_inventory_sf0.001.json

smoke:
	python -c "import sys; sys.path.insert(0, '.'); \
	import __spark_entry__ as e; \
	from confluent_data_ingestion_spark.session import get_spark; \
	s = get_spark('smoke'); s.sparkContext.setLogLevel('ERROR'); \
	df = e.entry(s); print('rows:', df.count(), df.schema.simpleString())"

# same-session benchmark A/B: REF (exported with git archive) against the
# working tree, alternating sides over SEEDS
REF ?= HEAD
WORKLOAD ?= stream_upsert
SEEDS ?= 1 2 3 4 5 6 7 8 9 10
perfbench-ab:
	python3 tools/perfbench_ab.py --ref $(REF) --workload $(WORKLOAD) \
		--seeds $(SEEDS)

# driver-faithful strict gate over the three test scale factors in turn,
# stopping at the first one with a non-OK row (ONLY=<row>,<row>,...
# restricts it to those registry rows)
TESTDATA ?= /root/testdata
ONLY ?=
strict-gate:
	@for sf in sf0.001 sf0.01 sf0.1; do \
		echo "== strict gate $$sf"; \
		python tools/strict_gate.py $(TESTDATA)/$$sf \
			$(if $(ONLY),--only $(ONLY)) || exit 1; \
	done

# non-test .py line count of the package and tools/ (the LOC figure the
# CHANGES.md entries quote)
loc:
	@find confluent_data_ingestion_spark tools -name '*.py' \
		! -name 'test_*' ! -path '*/tests/*' -print0 | xargs -0 cat | wc -l

verify: correctness smoke bench
