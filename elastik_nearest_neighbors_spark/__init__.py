"""elastik_nearest_neighbors_spark — a PySpark-native analytics engine with the
query and data-processing capabilities of alexklibisz/elastik-nearest-neighbors
(EsAknn: Elasticsearch approximate-kNN plugin via multi-table hyperplane LSH),
re-expressed Spark-first, plus LLM-training-data pipeline operators (dedup,
similarity search, text analysis, multimodal columns).

The reference's HTTP surface maps onto batch/stream DataFrame operators:

- ``POST /_aknn_create``  → :func:`api.aknn_create` (:meth:`operators.lsh.LshModel.from_sample`)
- ``POST /_aknn_index``   → :func:`api.aknn_index` / :func:`operators.lsh.build_index`
- ``GET  .../_aknn_search``→ :func:`api.aknn_search` and :func:`operators.knn.ann_search_lsh`,
  both :func:`operators.knn.collision_search`: eager, 2 Spark jobs, no shuffle

See SURVEY.md §2 for the full capability inventory.
"""

__version__ = "0.1.0"

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)
