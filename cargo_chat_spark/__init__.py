"""cargo_chat_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of timpratim/cargo-chat (reference, read-only at
/root/reference), re-expressed Spark-first.

The reference is a code-semantic vector database + RAG pipeline (Rust). This
package re-implements its data plane as declarative DataFrame/SQL pipelines:

- ``sources``   — repo walk / file scan / parquet index IO (SURVEY §2.1);
                  ``index_cells`` holds the catalog's cell-partitioned
                  index maintenance
- ``functions`` — scalar column expressions: paths, language lookup, vector
                  distances, portable hashing (SURVEY §2.2)
- ``operators`` — kNN join, classification-driven filters, ranking/top-k,
                  prompt assembly, char-window chunking, profile
                  aggregation, plus the catalog's dedup, similarity search
                  and text analysis (SURVEY §2.3-2.7 + scale extensions)
- ``models``    — pluggable batch-inference providers (embed/classify/HyDE/
                  rerank) with deterministic mocks (SURVEY §2.8)
- ``plans``     — composed pipelines: index build, online retrieval
- ``queries``   — the correctness catalog: each entry a Spark plan paired
                  with DuckDB oracle SQL
- ``streaming`` — Structured Streaming incremental indexing + event windows
                  (SURVEY §2.9 extension)

The paper core is what the two dataflows (index build, query), ``cli`` and
``perfbench/`` run; ``tests/test_core_boundary.py`` pins its modules, and
none of them imports ``queries`` or ``streaming``.

Everything deterministic is DuckDB-oracle-checkable; LLM-backed stages are
isolated behind ``models.provider.ModelProvider`` with seeded mocks.
"""

__version__ = "0.1.0"
