"""High-level convenience API used by __spark_entry__ and bench.

``index_for_parquet`` memoizes built indexes per (table path, config)
under a cache dir so repeated queries against the same corpus reuse
one build — mirroring how a real deployment queries one long-lived
index artifact.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession

from .build import build_index
from .config import FORMAT_VERSION, Bm25Config
from .index import Bm25Index

CACHE_BASE = os.environ.get("BM25SPARK_INDEX_CACHE", "/tmp/bm25spark-indexes")


def index_for_parquet(
    spark: SparkSession,
    parquet_path: str,
    text_col: str = "text",
    order_cols: list[str] | None = None,
    cfg: Bm25Config | None = None,
    base_dir: str | None = None,
) -> Bm25Index:
    cfg = cfg or Bm25Config()
    order_cols = order_cols or ["doc_id"]
    key = hashlib.sha256(
        "|".join(
            [
                f"v{FORMAT_VERSION}",
                os.path.abspath(parquet_path),
                text_col,
                ",".join(order_cols),
                cfg.analyzer,
                str(cfg.k1),
                str(cfg.b),
                cfg.seed.hex(),
                str(cfg.shard_size),
            ]
        ).encode()
    ).hexdigest()[:16]
    index_dir = os.path.join(base_dir or CACHE_BASE, key)
    if not os.path.exists(os.path.join(index_dir, "meta.json")):
        docs = spark.read.parquet(parquet_path)
        build_index(
            spark, docs, index_dir, text_col, order_cols, cfg=cfg
        )
    return Bm25Index(spark, index_dir)


def wand_topk_df(
    spark: SparkSession,
    docs_or_path: DataFrame | str,
    text_col: str,
    id_col: str,
    query_text: str,
    k: int,
    cfg: Bm25Config | None = None,
    mode: str = "taat",
) -> DataFrame:
    """Indexed top-k returning (doc_id, score) with the same rounding
    and ordering convention as the exact scorer / DuckDB oracle."""
    if isinstance(docs_or_path, str):
        idx = index_for_parquet(
            spark, docs_or_path, text_col=text_col, order_cols=[id_col], cfg=cfg
        )
    else:
        raise TypeError(
            "wand_topk_df needs a parquet path so the index build can be "
            "cached; pass sf_dir/documents.parquet"
        )
    from pyspark.sql import functions as F

    out = idx.search_df(query_text, k, mode=mode)
    return out.select(
        F.col(id_col).cast("bigint").alias("doc_id"), F.col("score")
    )


def _resolve_cfg(
    analyzer: str | None, cfg: Bm25Config | None, default: str
) -> Bm25Config:
    """Merge the convenience ``analyzer`` arg with an explicit cfg —
    conflicting values raise instead of silently preferring cfg."""
    if cfg is None:
        return Bm25Config(analyzer=analyzer or default)
    if analyzer is not None and analyzer != cfg.analyzer:
        raise ValueError(
            f"analyzer={analyzer!r} conflicts with cfg.analyzer="
            f"{cfg.analyzer!r}; pass one or make them agree"
        )
    return cfg


def tokenize_mappings_df(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    analyzer: str | None = None,
    cfg: Bm25Config | None = None,
) -> DataFrame:
    """Exploded bm25vector view: one row per (doc, token) with its
    term frequency — the relational form of ``tokenize()`` output
    (and of the reference's bm25vector '{id:tf}' display). With the
    ``simple`` analyzer (the default) the token column is the readable
    token string (SQL-replicable end to end); other analyzers emit
    interned keys."""
    from pyspark.sql import functions as F

    cfg = _resolve_cfg(analyzer, cfg, "simple")
    if cfg.analyzer == "simple":
        from .query import tokenize_simple_sql

        return tokenize_simple_sql(
            df.filter(F.col(text_col).isNotNull()), text_col, id_col
        ).orderBy("doc_id", "token")
    from .query import tokenize_udf_mappings

    return tokenize_udf_mappings(df, text_col, id_col, cfg).orderBy(
        "doc_id", "term_key"
    )


def train_corpus_vocab(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_n: int = 65536,
    min_df: int = 1,
) -> list[str]:
    """Deterministic corpus-driven vocabulary training — the analogue
    of the reference ecosystem's custom-model build (pg_tokenizer
    trains a model from the corpus and assigns ids to its tokens;
    reference README.md:143-160). Tokens are ranked by document
    frequency over the ``simple``-analyzed corpus with the (df DESC,
    token ASC) tie-break, so the result is identical at any
    parallelism; the one distributed agg shuffles (token, partial-df)
    pairs and only the top-``top_n`` rows reach the driver (bounded
    collect, same discipline as IVF training).

    Feed the result to :func:`bm25spark.analyze.make_vocab_analyzer`.
    """
    from pyspark.sql import functions as F

    if not 0 < top_n <= 65536:
        raise ValueError(f"top_n must be in (0, 65536], got {top_n}")
    mappings = tokenize_mappings_df(df, text_col, id_col)
    rows = (
        mappings.groupBy("token")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") >= int(min_df))
        .orderBy(F.desc("df"), F.asc("token"))
        .limit(top_n)
        .collect()
    )
    return [r.token for r in rows]


def inspect_index(
    spark: SparkSession,
    index_dir: str,
    term: str | None = None,
    limit: int = 50,
    raw_only: bool = False,
) -> DataFrame:
    """Per-term storage introspection — the analogue of the
    reference's ``bm25_page_inspect(index, blkno)`` debugging surface
    (sql/install/vchord_bm25--0.3.0.sql:117-124), re-expressed over
    the postings artifact instead of page numbers: for each term,
    block count, posting count (= document frequency), packed byte
    footprint, and the term-level WAND upper-bound inputs from the
    terms dictionary (the canonical values the build's max_by total
    order selected — NOT an arbitrary block's). One distributed
    aggregation over the postings parquet joined with the small terms
    dictionary; only ``limit`` rows return.

    ``token`` is readable for raw-interned terms (tokens shorter than
    the 16-byte key width are stored zero-padded, vector.rs:19-35) and
    NULL for hashed keys — hashed digests always end in a nonzero
    byte, so the trailing-NUL test is unambiguous for every token of
    width < 16. ``raw_only=True`` drops hashed keys BEFORE the
    order/limit cut, making the result independent of where hashed
    terms rank (the driver gate's SQL oracle can only rank readable
    tokens)."""
    from pyspark.sql import functions as F

    idx = Bm25Index(spark, index_dir)
    pdf = idx.postings_df()
    if term is not None:
        keys = idx.query_keys(term)
        if not keys:
            return spark.createDataFrame(
                [],
                "term_key BINARY, token STRING, n_blocks BIGINT, "
                "df BIGINT, packed_bytes BIGINT, wand_fn INT, wand_tf BIGINT",
            )
        pdf = pdf.filter(
            F.col("term_key").isin([bytearray(x) for x in keys])
        )
    agg = pdf.groupBy("term_key").agg(
        F.count("*").cast("bigint").alias("n_blocks"),
        F.sum("count").cast("bigint").alias("df"),
        (
            F.sum(F.length("ids_bytes")) + F.sum(F.length("tfs_bytes"))
        ).cast("bigint").alias("packed_bytes"),
    )
    dct = idx.terms_df().select(
        "term_key",
        F.col("wand_fn").cast("int").alias("wand_fn"),
        F.col("wand_tf").cast("bigint").alias("wand_tf"),
    )
    # plain equi-join: both sides are one row per term (dictionary-
    # sized, not corpus-sized) — let AQE pick the strategy; at a
    # billion-term vocabulary a forced broadcast would be wrong
    agg = agg.join(dct, "term_key")
    s = F.col("term_key").cast("string")
    token = F.when(
        F.endswith(s, F.lit("\x00")), F.rtrim(s, F.lit("\x00"))
    ).otherwise(F.lit(None).cast("string"))
    out = agg.select(
        "term_key", token.alias("token"), "n_blocks", "df",
        "packed_bytes", "wand_fn", "wand_tf",
    )
    if raw_only:
        out = out.filter(F.col("token").isNotNull())
    return out.orderBy(F.desc("df"), F.asc("term_key")).limit(int(limit))
