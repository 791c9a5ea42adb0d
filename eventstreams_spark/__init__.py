"""eventstreams_spark — a PySpark-native event-stream analytics engine.

Capability target: the `intelix/eventstreams` surface (Logstash-class
event pipelines: sources → transforms → sinks) re-expressed Spark-first,
plus the relational/analytical query surface and LLM-data-pipeline
operators defined in SURVEY.md.

NOTE on reference citations: /root/reference was empty at survey AND at
build time (SURVEY.md §0.1), so docstrings cite the survey's capability
blueprint (SURVEY.md §N) and public Apache Spark APIs instead of
reference file:line.

Layout:
- session.py    SparkSession factory (local tuning, ns-parquet legacy conf)
- catalog.py    centralized table loader / view registration (oracle parity chokepoint)
- registry.py   query registry: name -> (spark builder, oracle SQL)
- queries/      one module per operator family (SURVEY §2 manifest)
- operators/    reusable plan-builder functions (DataFrame -> DataFrame)
- functions/    column-level helpers (vector math, text, grok patterns)
- pipeline.py   declarative Logstash-style pipeline compiler + source/sink config
- streaming/    Structured Streaming operators (windows, dedup, stateful, joins, state store)
- sources/      custom Python data sources AND sinks (generator, spool, kafka, es_bulk)
- plans/        physical-plan inspection/assertion helpers
- __main__.py   CLI: run/validate pipeline configs
- zipcache.py   stat-keyed zipimporter cache refresh, installed on import
"""

from . import zipcache as _zipcache

_zipcache.install()

__version__ = "0.1.0"
