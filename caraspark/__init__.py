"""caraspark — a from-scratch PySpark-native document extraction & analytics engine.

Capabilities modeled on caradoc-org/caradoc (ANSSI's PDF parser/validator;
see SURVEY.md for the full capability survey and provenance caveats),
re-expressed as vectorized Arrow-batch dataflow over a Spark document lake,
plus the relational / dedup / similarity operator surface a web-scale
training-data pipeline needs.

Layout:
    caraspark.session     SparkSession factory (UTC, AQE, Arrow tuned)
    caraspark.workerd     Python worker daemon (no per-task zip rescan)
    caraspark.schemas     every explicit StructType (never inferred)
    caraspark.synth       deterministic documents_raw corpus generator
    caraspark.pdf         byte-level PDF lexer/parser/xref/filters/typecheck
    caraspark.html_extract HTML boilerplate strip (stdlib html.parser)
    caraspark.extract     the mapInArrow extraction pipeline (flagship)
    caraspark.relational  Part-B relational operator pack (qkey registry)
                          + the shared Arrow row mapper (map_rows)
    caraspark.textops     dedup / similarity / language-ID / quality ops
    caraspark.manifest    snapshot manifest (Iceberg-style) + resume
"""

__version__ = "0.1.0"
