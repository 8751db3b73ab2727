"""Central schemas.

The triple schema is the flat, context-free wire form — exactly the
reference's own interchange struct RdfJsonNode/RdfJsonTriple
(/root/reference/src/turtle/turtle_doc.rs:136-159) widened with
provenance (url) and kinds. Prefix/base state is parse-time-only
(SURVEY.md §1.3) so the post-parse table needs no document context.

The page schema follows BASELINE.json input_hint:
(url string, warc_ts timestamp, html binary, text string, lang string).
"""

from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

PAGE_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), True),
        StructField("html", BinaryType(), True),
        StructField("text", StringType(), False),
        StructField("lang", StringType(), True),
    ]
)

TRIPLE_FIELDS = [
    StructField("url", StringType(), False),
    StructField("s", StringType(), True),
    StructField("s_kind", StringType(), True),
    StructField("p", StringType(), True),
    StructField("o", StringType(), True),
    StructField("o_kind", StringType(), True),
    StructField("o_datatype", StringType(), True),
    StructField("o_lang", StringType(), True),
]

TRIPLE_SCHEMA = StructType(TRIPLE_FIELDS)

# extraction output carries per-doc status rows alongside triples so a
# bad page quarantines instead of failing the job (reference fails the
# whole doc: turtle_doc.rs:888-905; SURVEY.md §7 hard-part 5)
EXTRACT_SCHEMA = StructType(
    TRIPLE_FIELDS
    + [
        StructField("parse_ok", BooleanType(), False),
        StructField("error", StringType(), True),
    ]
)

# extract.extract_embedded: good triples tagged with the syntax that
# produced them
EMBEDDED_SCHEMA = StructType(
    [StructField("syntax", StringType(), False)] + TRIPLE_FIELDS
)

# per-document extraction metrics (lineage/metrics table of the north
# rule): one row per page
DOC_METRICS_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("parse_ok", BooleanType(), False),
        StructField("n_triples", LongType(), False),
        StructField("error", StringType(), True),
        StructField("text_sha1", StringType(), False),
        StructField("n_chars", LongType(), False),
    ]
)

TRIPLE_COLS = ["s", "s_kind", "p", "o", "o_kind", "o_datatype", "o_lang"]
