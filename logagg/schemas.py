"""Schemas and shared constants (single source of truth for both the Spark
pipeline and the pure-Python oracle generators).

The pages table shape is mandated by the task spec (BASELINE.json
``input_hint``): ``(url string, warc_ts timestamp, html binary, text string,
lang string)``. The parsed-record schema mirrors the reference's record
model (aggregator/model.py:17-50: node/severity required, jvm/source/type
optional, datetime required) plus provenance columns.
"""

from __future__ import annotations

from pyspark.sql import types as T

PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), False),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)

# Output of the vectorized parse stage (before JVM-side enrichment):
# field → DDL type, in canonical column order.
PARSED_FIELDS: dict[str, str] = {
    "url": "string",
    "lang": "string",
    "warc_ts": "timestamp",
    "record_idx": "int",
    "extracted_text": "string",
    "severity": "string",
    "jvm": "string",
    "datetime": "timestamp",
    "source": "string",
    "type": "string",
    "message": "string",
}

PARSED_DDL = ", ".join(f"{c} {t}" for c, t in PARSED_FIELDS.items())

# URL layout: https://{host}/{node}/{log_type}/{page_id}
# Analog of the reference's filename→node/log_type regex extraction
# (aggregator/helper.py:32-41); regexp_extract returns "" on no-match,
# matching get_node/get_log_type's "" contract (helper.py:48-73).
HOST_RE = "^[a-z]+://([^/]+)/"
NODE_RE = "^[a-z]+://[^/]+/([^/]+)/"
LOGTYPE_RE = "^[a-z]+://[^/]+/[^/]+/([^/]+)/"

# ---- text-analysis constants (shared by Spark exprs and Python oracles) ----

# language-ID marker tokens: tiny per-language stopword lists; prediction is
# argmax of marker hits with (score desc, lang asc) tie-break; "und" if 0.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "de": ("und", "nicht", "fehler"),
    "en": ("the", "and", "failed"),
    "es": ("el", "con", "fallo"),
    "fr": ("le", "dans", "erreur"),
    "it": ("il", "per", "errore"),
    "pt": ("os", "nao", "falha"),
}
LANG_UNKNOWN = "und"

# near-dup shingling: K-token shingles over whitespace-split tokens, joined
# with a separator that cannot occur inside a token.
SHINGLE_K = 5
SHINGLE_SEP = "\x1f"
# stop-shingle document-frequency cut: shingles present in more than DF_MAX
# docs carry no dedup signal (log templates — "INFO | jvm 1 |" — are shared
# by thousands of pages) and make any pair-join quadratic. Both the Spark
# operator and the Python oracle drop them from the effective shingle set
# BEFORE Jaccard; this is the standard web-dedup trick and is what keeps the
# exact pipeline viable at scale.
DEDUP_DF_MAX = 50


def df_max_for(n_docs: int) -> int:
    """Scale-aware stop-shingle cut: 0.01% of the corpus, floored at
    DEDUP_DF_MAX. A fixed cut silently truncates true duplicate clusters
    bigger than the cut as the corpus grows; tying it to corpus size keeps
    the recall contract stable from 6k docs to 10^12."""
    return max(DEDUP_DF_MAX, n_docs // 10_000)


# MinHash-LSH spec (shared by the Spark operator and the pure-Python twin
# that materializes its expected table):
MINHASH_PERMS = 64
MINHASH_LSH_BANDS = 16
MINHASH_LSH_ROWS = MINHASH_PERMS // MINHASH_LSH_BANDS
MINHASH_SEED = 0x5EED
MINHASH_MERSENNE = (1 << 61) - 1
# the stop-shingle set for MinHash is estimated from a deterministic 1-in-N
# document sample keyed by crc32(url) — same rule on both engines, and the
# sample-rate scaling keeps the estimate unbiased: a shingle is "stop" when
# df_sample * STOP_SAMPLE_MOD > df_max.
STOP_SAMPLE_MOD = 8

# SimHash spec (ditto):
SIMHASH_BITS = 64
SIMHASH_MAX_HAMMING = 3
SIMHASH_BANDS = 4  # pigeonhole: dist<=3 → at least one of 4 16-bit bands equal
# Jaccard >= 0.8  <=>  9*|A∩B| >= 4*(|A|+|B|)   (integer-exact both engines)
JACCARD_NUM = 9
JACCARD_DEN = 4

# rolling-hash fingerprint: polynomial base/modulus over UTF-8 bytes
FP_BASE = 257
FP_MOD = (1 << 61) - 1

# bigram-LM perplexity filter (CCNet-style quality stage): the UNK bucket
# token (whitespace-free, can never collide with a real token — tokens are
# whitespace-split) and the stupid-backoff weight (Brants et al. 2007 §4).
LM_UNK = "<unk>"
LM_BACKOFF_ALPHA = 0.4
