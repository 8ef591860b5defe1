"""The repository's benchmark: three workloads over the xsearch_spark
library (two listed in BENCHMARK.json, ``query_mix`` run by hand),
end-to-end metrics, and per-layer Spark metrics from a traced
run. See README.md in this directory."""
