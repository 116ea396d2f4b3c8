"""Incrementally-maintained inverted text index — a search index as a
derived view of the changelog.

``functions/retrieval.py`` prices the inverted-index COST relationally
(postings built per query); this module MATERIALIZES the index as a
:class:`LakeTable` keyed ``(token, *doc_keys)`` with a term-frequency
column, maintained from the upstream's changelog WITH before-images, so
point lookups are bucket- and zone-map-pruned reads instead of a corpus
scan.  The reference has no analogue (DataX ships an ES *writer* —
``elasticsearchwriter/`` — i.e. it outsources indexing to Elasticsearch
and re-syncs wholesale); here the index is a first-class table with the
same ACID/time-travel/exactly-once properties as any other.

Maintenance is exact and O(changed docs × tokens/doc), never O(corpus):

- ``read_changes_with_images`` yields per-commit NET changes — inserts
  (after image), update_before/update_after retraction pairs, deletes
  carrying the before image.  Every (token, doc) posting live before a
  commit that touches the doc appears in that commit's BEFORE image, so
  tokenizing images alone suffices — the index itself is never scanned
  to find a doc's old postings (which would be O(index): it is keyed by
  token, not doc).
- per (token, doc key): the LEXICOGRAPHICALLY LAST (commit_version,
  assert-flag) event decides — a retract/assert pair in one commit
  resolves to assert (the token survived the update, possibly with a new
  term frequency), and any later commit overrides earlier ones because
  its before image re-retracts everything still live.  One hash
  aggregate (struct max — primitive buffer, whole-stage codegen), no
  window.
- the merge carries upserts + tombstones and the watermark in ONE atomic
  MOR commit — the shared exactly-once protocol of ``lake/view.py``.

Bucketing by ``token`` makes ``lookup_postings`` a bucket-pruned point
read; keep the index compacted with ``compact(sort_cols=["token"])`` and
zone maps narrow each bucket's files to token ranges — a 100-TB corpus
serves a term lookup from O(matching files).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datax_spark.lake.merge import merge_into
from datax_spark.lake.table import LakeTable
from datax_spark.lake.view import (
    _static_planning_if_small,
    bootstrap_overwrite,
    change_bytes,
    create_or_resume,
    read_spec,
    watermark,
)

WATERMARK_PROP = "indexview_upstream_version"
SPEC_PROP = "indexview_spec"
# lower-cased alphanumeric runs — deliberately simple and RE2∩Java-safe so
# the identical pattern runs in Spark and any SQL oracle; swap per index
# via create_index_view(token_pattern=...)
DEFAULT_TOKEN_PATTERN = "[a-z0-9]+"
_OP = "__ix_op"
_ORD = "__ix_ord"


def _spec(view: LakeTable) -> dict:
    return read_spec(view, SPEC_PROP, "indexview", "create_index_view")


def _postings(df: DataFrame, content_col: str, pattern: str,
              keys: list[str], extra: list[str] = ()) -> DataFrame:
    """(token, *keys[, *extra], tf) for a frame of document rows."""
    toks = F.regexp_extract_all(
        F.lower(F.col(content_col)), F.lit(pattern), F.lit(0)
    )
    return (
        df.select(*keys, *extra, F.explode(toks).alias("token"))
        .groupBy("token", *keys, *extra)
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )


def create_index_view(
    upstream: LakeTable,
    location: str,
    content_col: str,
    token_pattern: str = DEFAULT_TOKEN_PATTERN,
    num_buckets: int = 32,
    version: int | None = None,
) -> LakeTable:
    """Create the index table and bootstrap it from the upstream snapshot
    at ``version`` (default current; 0 = empty index that replays the
    whole changelog).  Schema: ``token`` + the upstream's key columns +
    ``tf`` (the token's occurrence count in that document); keyed by all
    of them, bucketed by ``token``.

    Bootstrap is the shared two-commit, crash-resumable one
    (``lake/view.py``)."""
    um = upstream.manifest()
    by_name = {f.name: f for f in um.schema.fields}
    if content_col not in by_name:
        raise ValueError(f"content column {content_col!r} not in upstream "
                         "schema")
    if not isinstance(by_name[content_col].dataType, T.StringType):
        raise ValueError(f"content column {content_col!r} must be string, "
                         f"got {by_name[content_col].dataType}")
    for reserved in ("token", "tf"):
        if reserved in by_name and reserved in um.key_cols:
            raise ValueError(
                f"upstream key column {reserved!r} collides with an index "
                "column"
            )
    fields = [T.StructField("token", T.StringType())]
    fields += [T.StructField(c, by_name[c].dataType) for c in um.key_cols]
    fields.append(T.StructField("tf", T.LongType()))
    view = create_or_resume(
        upstream.spark, location, SPEC_PROP, "index view",
        schema=T.StructType(fields), key_cols=["token", *um.key_cols],
        bucket_col="token", num_buckets=num_buckets,
    )
    at = upstream.current_version() if version is None else version
    if at > 0:
        bootstrap_overwrite(view, [(upstream, at)], lambda: _postings(
            upstream.read(version=at), content_col, token_pattern,
            list(um.key_cols),
        ))
    view.set_properties(**{
        WATERMARK_PROP: int(at),
        SPEC_PROP: json.dumps({
            "content_col": content_col,
            "pattern": token_pattern,
            "doc_keys": list(um.key_cols),
        }),
    })
    return view


def refresh_index_view(
    upstream: LakeTable,
    view: LakeTable,
    on_rewrite: str = "error",
    auto_compact: int | None = None,
) -> dict:
    """Fold the upstream changes since the watermark into the index (see
    module docstring).  Re-running a completed refresh is a no-op."""
    spec = _spec(view)
    wm = watermark(view, WATERMARK_PROP, "create_index_view")
    cur = upstream.current_version()
    if cur == wm:
        return {"from_version": wm, "to_version": cur, "applied": False}
    keys = list(spec["doc_keys"])
    with _static_planning_if_small(
            upstream.spark, change_bytes(upstream, wm, cur)):
        ch = upstream.read_changes_with_images(wm, cur,
                                               on_rewrite=on_rewrite)
        is_assert = F.col("_change_type").isin("insert", "update_after")
        ev = _postings(
            ch.select(*keys, spec["content_col"], "_commit_version",
                      is_assert.cast("int").alias("__a")),
            spec["content_col"], spec["pattern"], keys,
            extra=["_commit_version", "__a"],
        )
        # last (commit, assert) event per posting decides; struct max keeps
        # the winning tf in the same primitive-buffer hash aggregate
        won = ev.groupBy("token", *keys).agg(
            F.max(F.struct(
                F.col("_commit_version").alias("c"),
                F.col("__a").alias("a"),
                F.col("tf").alias("tf"),
            )).alias("w")
        )
        batch = won.select(
            "token", *keys,
            F.col("w.tf").alias("tf"),
            F.when(F.col("w.a") == 1, F.lit("insert"))
            .otherwise(F.lit("delete")).alias(_OP),
            (F.col("w.c") * 2 + F.col("w.a")).cast("long").alias(_ORD),
        )
        mf = merge_into(
            view, batch, op_col=_OP, order_col=_ORD, mode="mor",
            auto_compact=auto_compact, keys_unique=True,
            lineage={"batch_id": f"idxv{cur}"},
            properties_update={WATERMARK_PROP: int(cur)},
        )
    # not applied: a replayed refresh — the watermark already advanced
    # atomically with the original merge
    return {"from_version": wm, "to_version": cur, "applied": mf is not None}


def search_bm25(
    view: LakeTable,
    terms: list[str],
    k: int = 20,
    doclen: LakeTable | None = None,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 top-k over the MAINTAINED index — the incremental
    counterpart of ``functions/retrieval.bm25_topk`` (which tokenizes the
    corpus per query): postings for the query terms are a bucket-pruned
    point read, document frequencies fall out of those postings, and doc
    lengths come from ``doclen`` — an ordinary aggregate view over this
    index (``create_agg_view(index, dims=doc_keys, sums=["tf"])``),
    itself incrementally maintained, so the whole retrieval stack stays
    current per refresh with NO per-query corpus pass.  Without
    ``doclen`` the lengths aggregate over the full index (the one-shot
    fallback).

    Same formula/discipline as the corpus-scan version: idf =
    ln(1 + (N - df + ½)/(df + ½)), scores rounded to 6 decimals,
    deterministic ties (score desc, then doc keys)."""
    spec = _spec(view)
    keys = list(spec["doc_keys"])
    terms = sorted({t for t in terms if t})
    if not terms:
        raise ValueError("search_bm25: empty query")
    p = lookup_postings(view, terms)
    if doclen is not None:
        dl = doclen.read().select(
            *keys, F.col("sum_tf").cast("long").alias("dl")
        )
    else:
        dl = view.read().groupBy(*keys).agg(F.sum("tf").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("sum_dl")
    ).first()
    n_docs = int(stats["n_docs"])
    if n_docs == 0:
        return p.select(*keys, F.lit(0.0).alias("score")).limit(0)
    avgdl = float(stats["sum_dl"]) / float(n_docs)
    idf = (
        p.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
        .withColumn(
            "idf",
            F.log(
                F.lit(1.0)
                + (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5))
            ),
        )
    )
    contrib = (
        p.join(F.broadcast(idf), "token")
        .join(dl, keys)
        .withColumn(
            "part",
            F.col("idf")
            * (F.col("tf") * F.lit(k1 + 1.0))
            / (
                F.col("tf")
                + F.lit(k1)
                * (F.lit(1.0 - b)
                   + F.lit(b) * F.col("dl") / F.lit(avgdl))
            ),
        )
    )
    return (
        contrib.groupBy(*keys)
        .agg(F.round(F.sum("part"), 6).alias("score"))
        .orderBy(F.col("score").desc(), *[F.col(c) for c in keys])
        .limit(k)
    )


def lookup_postings(view: LakeTable, terms: list[str]) -> DataFrame:
    """Posting rows for ``terms`` — a bucket- and zone-map-pruned point
    read (the index is bucketed by token; keep it compacted with
    ``compact(sort_cols=["token"])`` for narrow per-file token ranges)."""
    _spec(view)
    return view.read(where=[("token", "in", sorted(set(terms)))])
