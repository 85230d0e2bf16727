.PHONY: jvm test test-oracle test-streaming test-kafka kafka-up kafka-down sweep shuffle-ledger window-audit bench example lint

# The package jar that get_spark puts on the driver classpath
# (pyconnect_spark/jvm): the fork-free `file:` filesystem and the Avro
# codec UDFs. javac --release 17 against pyspark's own jars (jackson-databind
# only resolves the annotations on Spark's DataType, which -Xlint would flag);
# fixed entry timestamps so a rebuild is byte-stable.
JVM_JARS = hadoop-client-api-*.jar avro-[0-9]*.jar spark-sql-api_*.jar scala-library-*.jar jackson-databind-*.jar
JVM_CLASS_PATH = $(shell python -c "import glob, os, pyspark, sys; jars = os.path.join(os.path.dirname(pyspark.__file__), 'jars'); print(':'.join(glob.glob(os.path.join(jars, p))[0] for p in sys.argv[1:]))" $(foreach j,$(JVM_JARS),'$(j)'))
JVM_CLASSES = build/jvm
jvm:
	rm -rf $(JVM_CLASSES) && mkdir -p $(JVM_CLASSES)
	javac --release 17 -Xlint:all -Werror -cp $(JVM_CLASS_PATH) -d $(JVM_CLASSES) \
	  $$(find pyconnect_spark/jvm/src -name '*.java' | sort)
	jar --create --date=2026-01-01T00:00:00Z --file pyconnect_spark/jvm/pyconnect.jar \
	  -C $(JVM_CLASSES) .

# Live-broker integration suites (skip cleanly without a broker).
# Bring up Kafka + Schema Registry with `make kafka-up` (needs docker),
# then `make test-kafka` runs the env-gated suites against them.
kafka-up:
	docker compose up -d --wait

kafka-down:
	docker compose down -v

test-kafka:
	PYCONNECT_KAFKA_BOOTSTRAP=localhost:9092 \
	PYCONNECT_SCHEMA_REGISTRY=http://localhost:8081 \
	python -m pytest tests/test_kafka_integration.py tests/test_schema_registry.py -q

test:
	python -m pytest tests/ -q

test-oracle:
	python -m pytest tests/test_queries_oracle.py -q

test-streaming:
	python -m pytest tests/test_streaming.py -q

# Driver-style strict sweep of every query vs its DuckDB oracle, then the
# same sweep under a DIFFERENT core/partition count — catches results that
# depend on partitioning (unpinned collect_list order etc.).
sweep:
	python tools/strict_sweep.py
	SWEEP_CORES=5 SWEEP_PARTITIONS=7 python tools/strict_sweep.py

# Executed-plan shuffle/spill volumes for every headline query.
shuffle-ledger:
	python tools/shuffle_ledger.py > docs/SHUFFLE_LEDGER.md

# Plan-only audit: no declared query may carry an unpartitioned
# Window/WindowGroupLimit (whole-frame single-task sort). Exit 1 on any.
window-audit:
	python tools/window_audit.py

bench:
	python bench.py

example:
	python examples/file_connector.py
	python examples/llm_pipeline.py
	python examples/event_analytics.py
	python examples/dedup_at_scale.py
	python examples/table_maintenance.py
	python examples/streaming_ingest.py

# Byte-compile every Python file; the .pyc files go under build/, not
# into __pycache__ folders beside the sources.
lint:
	python -X pycache_prefix=build/pycache -m compileall -q pyconnect_spark tests tools examples bench.py __spark_entry__.py
