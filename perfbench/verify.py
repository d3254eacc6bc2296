"""Output checks for the benchmark, independent of the engine.

Each verifier returns a list of (check name, number of bad rows); a check
with any bad row counts as one failed operation. Catalog checks run in
DuckDB over the parquet the engine wrote and compare against the
generator's ground truth and a DuckDB re-derivation of the release
columns, which is what a one-shot rebuild of the final manifest gives.
The keyed-merge check replays the journal's last writes. Similarity
checks recompute pooled cosine recall and chamfer rerank in numpy.
"""

from __future__ import annotations

import glob
import json
import os

import duckdb
import numpy as np
import pandas as pd

AUDIO_EXTS = ("flac", "mp3", "wav", "wv", "m4a")
SHARD_HEADER = "anchor_id,neighbor_id,rank,score"

Checks = list[tuple[str, int]]

# ---------------------------------------------------------------------------
# catalog: the merged gold release table
# ---------------------------------------------------------------------------

_OPEN = "\\[\\(\\{【（"
_CLOSE = "\\]\\)\\}】）"
_BRACKET = f"[{_OPEN}]([^{_OPEN}{_CLOSE}]*)[{_CLOSE}]"
_DATE = r"^(\d{4})\.(\d{2}|xx)\.(\d{2}|xx)"
_FNAME = r"^\((\d{2})\) \[([^\]]+)\] (.+)\.([A-Za-z0-9]+)$"


def release_rederivation_sql(manifest: str, probe: str) -> str:
    """The release columns re-derived from the raw manifest and probe.

    Valid for inputs whose bracket groups do not nest, which is what the
    generator emits."""
    exts = ", ".join(f"'{e}'" for e in AUDIO_EXTS)
    return f"""
    WITH audio AS (
      SELECT m.circle_dir, m.album_dir, m.filename, p.tags
      FROM read_parquet('{manifest}') m
      LEFT JOIN read_parquet('{probe}') p USING (path)
      WHERE lower(m.ext) IN ({exts})
    ), artist AS (
      SELECT circle_dir, album_dir,
        coalesce(CASE WHEN regexp_matches(filename, '{_FNAME}')
                      THEN regexp_extract(filename, '{_FNAME}', 2) END,
                 tags.artist) AS artist
      FROM audio
    ), votes AS (
      SELECT circle_dir, album_dir, artist, count(*) AS cnt
      FROM artist WHERE artist IS NOT NULL GROUP BY ALL
    ), mode AS (
      SELECT circle_dir, album_dir, artist AS album_artist FROM (
        SELECT *, row_number() OVER (PARTITION BY circle_dir, album_dir
                                     ORDER BY cnt DESC, artist ASC) AS rn
        FROM votes) WHERE rn = 1
    ), albums AS (
      SELECT circle_dir, album_dir, count(*) AS track_count,
        regexp_extract(album_dir, '{_DATE}', 1) AS y,
        regexp_extract(album_dir, '{_DATE}', 2) AS mo,
        regexp_extract(album_dir, '{_DATE}', 3) AS d,
        regexp_extract_all(album_dir, '{_BRACKET}', 1) AS toks
      FROM audio GROUP BY circle_dir, album_dir
    )
    SELECT a.circle_dir, a.album_dir, a.track_count,
      CAST(nullif(y, '') AS INT) AS release_year,
      CASE WHEN mo IN ('', 'xx') THEN NULL ELSE CAST(mo AS INT) END AS release_month,
      CASE WHEN d IN ('', 'xx') THEN NULL ELSE CAST(d AS INT) END AS release_day,
      list_filter(toks, t -> regexp_matches(t, '^[A-Z]+-[0-9]{{2,}}$'))[1] AS catalog_number,
      list_filter(toks, t -> regexp_matches(t, '^(?:C|RTS|M3-)[0-9]{{1,3}}$'))[1] AS convention,
      trim(regexp_replace(regexp_replace(a.album_dir, '{_DATE}', ''),
                          '{_BRACKET}', '', 'g')) AS album_name,
      mode.album_artist
    FROM albums a LEFT JOIN mode USING (circle_dir, album_dir)
    """


def truth_frame(albums) -> pd.DataFrame:
    """Generator ground truth, one row per album."""
    return pd.DataFrame(
        {
            "circle_dir": [a.circle_dir for a in albums],
            "album_dir": [a.album_dir for a in albums],
            "track_count": [a.track_count for a in albums],
            "disc_count": [len(a.disc_tracks) for a in albums],
            "reasons": [a.review_reasons for a in albums],
        }
    )


def verify_merged_gold(manifest: str, probe: str, gold_dir: str, albums) -> Checks:
    """The incrementally merged gold release table against a one-shot
    rebuild of the final manifest: the generator's ground truth plus the
    DuckDB re-derivation. The merged table keeps review reasons
    '|'-joined."""
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW gold AS SELECT * FROM read_parquet('{gold_dir}/*.parquet')")
        con.register("truth", truth_frame(albums))
        con.execute(f"CREATE VIEW derived AS {release_rederivation_sql(manifest, probe)}")
        q = lambda sql: con.execute(sql).fetchone()[0]  # noqa: E731
        return [
            ("release_count", abs(q("SELECT count(*) FROM gold") - q("SELECT count(*) FROM truth"))),
            ("release_vs_truth", q("""
                SELECT count(*) FROM truth t
                FULL JOIN gold r USING (circle_dir, album_dir)
                WHERE r.album_dir IS NULL OR t.album_dir IS NULL
                   OR r.track_count <> t.track_count
                   OR r.disc_count <> t.disc_count
                   OR CASE WHEN r.needs_review_reasons = '' THEN []
                           ELSE string_split(r.needs_review_reasons, '|') END <> t.reasons""")),
            ("release_vs_duckdb", q("""
                SELECT count(*) FROM derived x
                FULL JOIN gold r USING (circle_dir, album_dir)
                WHERE r.album_dir IS NULL OR x.album_dir IS NULL
                   OR r.track_count IS DISTINCT FROM x.track_count
                   OR r.release_year IS DISTINCT FROM x.release_year
                   OR r.release_month IS DISTINCT FROM x.release_month
                   OR r.release_day IS DISTINCT FROM x.release_day
                   OR r.catalog_number IS DISTINCT FROM x.catalog_number
                   OR r.convention IS DISTINCT FROM x.convention
                   OR r.album_name IS DISTINCT FROM x.album_name
                   OR r.album_artist IS DISTINCT FROM x.album_artist""")),
        ]
    finally:
        con.close()


def journal_truth(lines: list[str], first_pos: int = 0) -> dict[str, tuple[float, int]]:
    """Last write wins in journal order: key -> (value, byte offset of
    the line that set it), for lines laid down from `first_pos` on."""
    out: dict[str, tuple[float, int]] = {}
    pos = first_pos
    for line in lines:
        row = json.loads(line)
        out[row["item_id"]] = (row["value"], pos)
        pos += len(line.encode("utf-8")) + 1
    return out


def verify_merged_keys(target_dir: str, truth: dict[str, tuple[float, int]]) -> Checks:
    """The keyed merge target against the journal's last writes: one row
    per key, holding the value and journal offset of the key's last
    line."""
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW target AS SELECT * FROM read_parquet('{target_dir}/*.parquet')")
        con.register("truth", pd.DataFrame(
            {"item_id": list(truth), "value": [v for v, _ in truth.values()],
             "pos": [p for _, p in truth.values()]}))
        q = lambda sql: con.execute(sql).fetchone()[0]  # noqa: E731
        return [
            ("merge_row_count", abs(q("SELECT count(*) FROM target") - len(truth))),
            ("merge_duplicate_keys", q("""
                SELECT count(*) FROM (SELECT item_id FROM target GROUP BY item_id HAVING count(*) > 1)""")),
            ("merge_vs_journal", q("""
                SELECT count(*) FROM truth t FULL JOIN target r USING (item_id)
                WHERE r.item_id IS NULL OR t.item_id IS NULL
                   OR r.value IS DISTINCT FROM t.value OR r.pos IS DISTINCT FROM t.pos""")),
        ]
    finally:
        con.close()


# ---------------------------------------------------------------------------
# similar-track shards
# ---------------------------------------------------------------------------


def read_shards(shard_dir: str) -> tuple[pd.DataFrame, list[str]]:
    """All shard CSV rows, plus the header line of every shard file."""
    files = sorted(glob.glob(os.path.join(shard_dir, "shard=*", "*.csv")))
    headers, frames = [], []
    for f in files:
        with open(f, encoding="utf-8") as fh:
            headers.append(fh.readline().rstrip("\n"))
        # columns by position: a wrong header is its own check, not a crash
        frames.append(pd.read_csv(f, header=0, names=SHARD_HEADER.split(","),
                                  dtype={"anchor_id": "int64", "neighbor_id": "int64"}))
    rows = (
        pd.concat(frames, ignore_index=True)
        if frames
        else pd.DataFrame(columns=SHARD_HEADER.split(","))
    )
    return rows, headers


class SimilarityOracle:
    """numpy recompute of pooled cosine recall + capped chamfer rerank."""

    def __init__(self, track_ids, vec_ids, vecs, gated: set[int], cap: int = 96):
        keep = np.isin(track_ids, np.fromiter(gated, dtype=np.int64))
        t, v, x = track_ids[keep], vec_ids[keep], vecs[keep].astype(np.float64)
        order = np.lexsort((v, t))
        t, x = t[order], x[order]
        self.ids = np.unique(t)
        starts = np.searchsorted(t, self.ids)
        ends = np.append(starts[1:], len(t))
        self.sets = {
            int(i): x[s : min(e, s + cap)] for i, s, e in zip(self.ids, starts, ends)
        }
        pooled = np.stack([x[s:e].mean(axis=0) for s, e in zip(starts, ends)])
        self.pooled = pooled / np.linalg.norm(pooled, axis=1, keepdims=True)
        self.row = {int(i): r for r, i in enumerate(self.ids)}

    def cosines(self, anchor: int) -> np.ndarray:
        return np.round(self.pooled @ self.pooled[self.row[anchor]], 6)

    def expected(self, anchor: int, k_recall: int, k_final: int) -> list[tuple[int, float]]:
        """(neighbour, score) in rank order, ties broken by id."""
        cos = self.cosines(anchor)
        others = self.ids != anchor
        ids, c = self.ids[others], cos[others]
        recall = ids[np.lexsort((ids, -c))[:k_recall]]
        scored = sorted(((-self.chamfer(anchor, int(n)), int(n)) for n in recall))
        return [(n, -s) for s, n in scored[:k_final]]

    def chamfer(self, a: int, b: int) -> float:
        A, B = self.sets[a], self.sets[b]
        An = A / np.linalg.norm(A, axis=1, keepdims=True)
        Bn = B / np.linalg.norm(B, axis=1, keepdims=True)
        sim = An @ Bn.T
        return round(float((sim.max(axis=1).mean() + sim.max(axis=0).mean()) / 2.0), 6)


def check_anchor(
    oracle: SimilarityOracle, anchor: int, got: pd.DataFrame, k_recall: int, k_final: int,
    tol: float = 1e-5,
) -> bool:
    """Is `got` (this anchor's rows) a correct top-k_final list?

    Exact ties may order either way, so the check accepts any list that a
    correct pipeline could emit within `tol`: every neighbour is inside
    the cosine recall cut, carries its true chamfer score, the scores
    descend, and no candidate safely inside the cut beats the list."""
    cos = oracle.cosines(anchor)
    others = oracle.ids != anchor
    cand_ids, cand_cos = oracle.ids[others], cos[others]
    k = min(k_recall, len(cand_ids))
    kth = np.sort(cand_cos)[::-1][k - 1]
    got = got.sort_values("rank")
    want_len = min(k_final, k)
    if list(got["rank"]) != list(range(1, want_len + 1)):
        return False
    neigh = [int(n) for n in got["neighbor_id"]]
    if len(set(neigh)) != len(neigh) or anchor in neigh:
        return False
    scores = got["score"].to_numpy(dtype=np.float64)
    if np.any(np.diff(scores) > tol):
        return False
    for n, s in zip(neigh, scores):
        if n not in oracle.row or cos[oracle.row[n]] < kth - tol:
            return False
        if abs(oracle.chamfer(anchor, n) - s) > tol:
            return False
    floor = scores.min()
    for c in cand_ids[cand_cos > kth + tol]:
        if int(c) not in neigh and oracle.chamfer(anchor, int(c)) > floor + tol:
            return False
    return True


def verify_similar(
    shard_dir: str, oracle: SimilarityOracle, sample: list[int], k_recall: int, k_final: int
) -> Checks:
    rows, headers = read_shards(shard_dir)
    anchors = set(int(a) for a in rows["anchor_id"].unique())
    gated = set(int(i) for i in oracle.ids)
    want_rows = len(gated) * min(k_final, k_recall, len(gated) - 1)
    by_anchor = dict(tuple(rows.groupby("anchor_id")))
    bad_sample = sum(
        0 if a in by_anchor and check_anchor(oracle, a, by_anchor[a], k_recall, k_final) else 1
        for a in sample
    )
    return [
        ("shard_header", sum(h != SHARD_HEADER for h in headers) + (0 if headers else 1)),
        ("anchors_match_gate", len(anchors ^ gated)),
        ("row_count", abs(len(rows) - want_rows)),
        ("sampled_anchor_ranks", bad_sample),
    ]
