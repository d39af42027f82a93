"""One-shot reference computations the streamed outputs are checked
against.  CDC tables are rebuilt by DuckDB from the generated events;
corpus admissions are recomputed in one pass over the same documents.
Every function returns ``{check_name: mismatch_count}``; zero is a pass.
"""

from __future__ import annotations

import hashlib
import re


def cdc_reference(con, base_path: str, events_path: str, n_events: int) -> None:
    """Materialise ``ref`` (the table after applying events
    [0, n_events) onto the base in one shot: latest image per key,
    deletes drop the key, unmatched keys are inserted with NULL unset
    columns) and ``deleted_keys`` (keys with a delete in their history)."""
    con.execute(f"CREATE OR REPLACE VIEW base AS SELECT * FROM read_parquet('{base_path}')")
    con.execute(
        f"CREATE OR REPLACE VIEW ev AS SELECT * FROM read_parquet('{events_path}') "
        f"WHERE eid < {int(n_events)}"
    )
    con.execute("""
        CREATE OR REPLACE TABLE ref AS
        WITH latest AS (
            SELECT pk, op, value FROM (
                SELECT *, row_number() OVER (PARTITION BY pk ORDER BY eid DESC) AS rn FROM ev
            ) WHERE rn = 1
        )
        SELECT b.c_custkey, b.c_name, b.c_mktsegment,
               CASE WHEN l.pk IS NULL THEN b.c_acctbal ELSE l.value END AS c_acctbal
        FROM base b LEFT JOIN latest l ON b.c_custkey = l.pk
        WHERE l.pk IS NULL OR l.op <> 'delete'
        UNION ALL
        SELECT l.pk, NULL, NULL, l.value FROM latest l
        WHERE l.op <> 'delete' AND l.pk NOT IN (SELECT c_custkey FROM base)
    """)
    con.execute("CREATE OR REPLACE TABLE deleted_keys AS SELECT DISTINCT pk FROM ev WHERE op = 'delete'")


def check_cdc_table(con, state_dir: str) -> dict:
    """Compare the sink's materialised parquet with ``ref``.  The key
    set and the stream-set column ``c_acctbal`` must match exactly.
    Unset columns are compared only for keys with no delete in their
    history: the copy-on-write sink re-inserts a key deleted in an
    earlier batch with NULL unset columns, so for those keys the result
    depends on batch boundaries (streaming/mor.py documents this)."""
    con.execute(f"CREATE OR REPLACE VIEW got AS SELECT * FROM read_parquet('{state_dir}/*.parquet')")
    q = {
        "duplicate_keys": "SELECT count(*) - count(DISTINCT c_custkey) FROM got",
        "missing_keys": "SELECT count(*) FROM (SELECT c_custkey FROM ref EXCEPT SELECT c_custkey FROM got)",
        "extra_keys": "SELECT count(*) FROM (SELECT c_custkey FROM got EXCEPT SELECT c_custkey FROM ref)",
        "acctbal_mismatch": """SELECT count(*) FROM ref r JOIN got g USING (c_custkey)
            WHERE (r.c_acctbal IS NULL) <> (g.c_acctbal IS NULL)
               OR abs(r.c_acctbal - g.c_acctbal) > 1e-6""",
        "unset_column_mismatch": """SELECT count(*) FROM ref r JOIN got g USING (c_custkey)
            WHERE r.c_custkey NOT IN (SELECT pk FROM deleted_keys)
              AND (r.c_name IS DISTINCT FROM g.c_name
                   OR r.c_mktsegment IS DISTINCT FROM g.c_mktsegment)""",
    }
    return {name: con.execute(sql).fetchone()[0] for name, sql in q.items()}


def _norm_md5(text: str) -> str:
    return hashlib.md5(re.sub(r"\s+", " ", text.lower()).encode()).hexdigest()


def exact_admissions(batches: list[list[tuple[int, str]]]) -> set[int]:
    """``DedupIngestSink``'s spec in one pass: the smallest doc_id per
    normalised-text fingerprint over everything fed."""
    first: dict[str, int] = {}
    for batch in batches:
        for doc_id, text in batch:
            fp = _norm_md5(text)
            if fp not in first or doc_id < first[fp]:
                first[fp] = doc_id
    return set(first.values())


def near_admissions(batches: list[list[int]], sig: dict[int, tuple], min_agree: int) -> set[int]:
    """``NearDupIngestSink``'s batch-sequential spec, replayed over
    signatures computed in one job: a document is rejected iff an
    admitted document, or a smaller doc_id in its own batch (admitted or
    not), agrees with it on at least ``min_agree`` MinHash bands."""
    admitted: set[int] = set()
    index: dict[tuple[int, int], list[int]] = {}

    def agreeing(doc: int, pool) -> bool:
        counts: dict[int, int] = {}
        for band, v in enumerate(sig[doc]):
            if v is None:
                continue
            for other in pool.get((band, v), ()):
                counts[other] = counts.get(other, 0) + 1
                if counts[other] >= min_agree:
                    return True
        return False

    for batch in batches:
        in_batch: dict[tuple[int, int], list[int]] = {}
        keep = []
        for doc in sorted(batch):
            if not agreeing(doc, index) and not agreeing(doc, in_batch):
                keep.append(doc)
            for band, v in enumerate(sig[doc]):
                in_batch.setdefault((band, v), []).append(doc)
        for doc in keep:
            admitted.add(doc)
            for band, v in enumerate(sig[doc]):
                index.setdefault((band, v), []).append(doc)
    return admitted


def corpus_stats(rows: list[tuple[str, str]]) -> dict[str, tuple[int, int]]:
    """Per-source (documents, whitespace tokens), ``CorpusStatsSink``'s
    ``current()`` computed in one pass."""
    out: dict[str, list[int]] = {}
    for source, text in rows:
        acc = out.setdefault(source, [0, 0])
        acc[0] += 1
        acc[1] += len(re.split(r"\s+", text))
    return {k: (v[0], v[1]) for k, v in out.items()}


def digest(ids) -> str:
    return hashlib.sha256(",".join(map(str, sorted(ids))).encode()).hexdigest()[:16]
