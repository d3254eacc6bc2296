"""Tests for the benchmark's own code: generators, verifiers, metric names.

    python3 -m pytest perfbench/test_perfbench.py -q

None of these start Spark: the verifiers are exercised on outputs built
from the generators' ground truth, first as written, then with one
planted wrong row.
"""

from __future__ import annotations

import filecmp
import json
import os
import re
import sys

import duckdb
import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import verify  # noqa: E402
from spans import tail_percentile  # noqa: E402

SPEC = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"), encoding="utf-8"))


# ---------------------------------------------------------------------------
# generators
# ---------------------------------------------------------------------------


def _write_all(seed: int, out: str) -> list[str]:
    cat = gen.catalog(seed, 60)
    gen.write_catalog(cat, os.path.join(out, "m.parquet"), os.path.join(out, "p.parquet"))
    gen.write_release([(a.circle_dir, a.album_dir, a.album_dir, "") for a in cat.albums],
                      os.path.join(out, "r.parquet"))
    gen.write_chunks(*gen.chunk_embeddings(seed, 80, 8), os.path.join(out, "c.parquet"))
    gen.write_deltas(gen.deltas(seed, cat, 3), os.path.join(out, "d"))
    log = gen.merge_journal(seed, 300, 3)
    with open(os.path.join(out, "j.jsonl"), "w", encoding="utf-8") as fh:
        fh.writelines(line + "\n" for line in log.base + sum(log.deltas, []))
    files = []
    for root, _dirs, names in os.walk(out):
        files += [os.path.relpath(os.path.join(root, n), out) for n in names]
    return sorted(files)


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    a.mkdir()
    b.mkdir()
    files = _write_all(11, str(a))
    assert files == _write_all(11, str(b))
    match, mismatch, errors = filecmp.cmpfiles(a, b, files, shallow=False)
    assert not mismatch and not errors and len(match) == len(files)


def test_different_seeds_give_different_inputs():
    assert gen.catalog(1, 40).manifest != gen.catalog(2, 40).manifest
    assert not np.array_equal(gen.chunk_embeddings(1, 50, 8)[2], gen.chunk_embeddings(2, 50, 8)[2])
    base = gen.catalog(1, 40)
    assert gen.deltas(1, base, 2)[0].journal_lines != gen.deltas(2, base, 2)[0].journal_lines
    assert gen.merge_journal(1, 200, 1).deltas != gen.merge_journal(2, 200, 1).deltas


def test_merge_journal_shape():
    log = gen.merge_journal(7, 500, 4)
    base = [json.loads(line)["item_id"] for line in log.base]
    assert len(set(base)) == 500
    seen = set(base)
    for lines, changed in zip(log.deltas, log.changed):
        keys = [json.loads(line)["item_id"] for line in lines]
        assert len(keys) == gen.MERGE_RETOUCH + gen.MERGE_NEW + gen.MERGE_DUP
        assert len(set(keys)) == changed == gen.MERGE_RETOUCH + gen.MERGE_NEW
        assert len(set(keys) - seen) == gen.MERGE_NEW
        seen |= set(keys)
    assert any(not k.isascii() for k in seen)


def test_catalog_shape():
    cat = gen.catalog(5, 400)
    assert len(cat.albums) == 400
    audio = [r for r in cat.manifest if r[5] in verify.AUDIO_EXTS]
    assert len(audio) == sum(a.track_count for a in cat.albums)
    messy = sum(not re.match(verify._FNAME, r[4]) for r in audio)
    assert 0.2 < messy / len(audio) < 0.4
    assert 0.02 < 1 - len(cat.probe) / len(audio) < 0.08
    assert any(len(a.disc_tracks) > 1 for a in cat.albums)
    assert any(not r[1].isascii() or not r[2].isascii() for r in cat.manifest)
    sizes = pd.Series([a.circle_dir for a in cat.albums]).value_counts()
    assert sizes.iloc[0] > 10 * sizes.median()  # Zipf-skewed circles


def test_albums_without_catalog_or_convention_tokens_keep_their_share():
    albums = [a.album_dir for a in gen.catalog(6, 2000).albums]
    with_catalog = sum(bool(re.search(r"\[[A-Z]+-[0-9]{2,}\]", a)) for a in albums) / len(albums)
    with_convention = sum(bool(re.search(r"\[(?:C|RTS|M3-)[0-9]{1,3}\]", a)) for a in albums) / len(albums)
    assert abs(with_catalog - gen.CATALOG_TOKEN_SHARE) < 0.04
    assert abs(with_convention - gen.CONVENTION_TOKEN_SHARE) < 0.04


def test_chunk_counts_are_ragged_and_cross_the_cap():
    tracks, _, _ = gen.chunk_embeddings(3, 400, 8)
    counts = np.bincount(tracks)
    assert counts.min() >= 4 and counts.max() > 96 and (counts > 96).sum() < 40


# ---------------------------------------------------------------------------
# merged-gold verifier: a correct table built from the truth, then one bad row
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def catalog_case(tmp_path_factory):
    out = tmp_path_factory.mktemp("cat")
    cat = gen.catalog(9, 50)
    m, p = str(out / "m.parquet"), str(out / "p.parquet")
    gen.write_catalog(cat, m, p)
    derived = duckdb.connect().execute(verify.release_rederivation_sql(m, p)).df()
    truth = verify.truth_frame(cat.albums)
    gold = derived.merge(truth[["circle_dir", "album_dir", "disc_count", "reasons"]])
    gold["needs_review_reasons"] = gold.pop("reasons").map("|".join)
    gold["album_key"] = gold.circle_dir + "/" + gold.album_dir
    return cat, m, p, gold


def _check(case, tmp_path, gold) -> dict[str, int]:
    cat, m, p, _ = case
    gold.to_parquet(tmp_path / "part-0.parquet", index=False)
    return dict(verify.verify_merged_gold(m, p, str(tmp_path), cat.albums))


def test_merged_gold_verifier_accepts_the_truth(catalog_case, tmp_path):
    assert not any(_check(catalog_case, tmp_path, catalog_case[3].copy()).values())
    # albums without a catalog-number or convention token are in the case
    assert catalog_case[3].catalog_number.isna().any() and catalog_case[3].convention.isna().any()


@pytest.mark.parametrize(
    "column,value,check",
    [
        ("album_artist", "nobody", "release_vs_duckdb"),
        ("catalog_number", "WRONG-999", "release_vs_duckdb"),
        ("convention", None, "release_vs_duckdb"),
        ("track_count", 999, "release_vs_truth"),
        ("needs_review_reasons", "probe_missing", "release_vs_truth"),
    ],
)
def test_merged_gold_verifier_rejects_a_planted_row(catalog_case, tmp_path, column, value, check):
    gold = catalog_case[3].copy()
    row = gold.index[gold.convention.notna() & (gold.needs_review_reasons == "")][0]
    gold.loc[row, column] = value
    assert _check(catalog_case, tmp_path, gold)[check] == 1


def test_merged_gold_verifier_rejects_a_missing_row(catalog_case, tmp_path):
    checks = _check(catalog_case, tmp_path, catalog_case[3].iloc[1:].copy())
    assert checks["release_count"] == 1 and checks["release_vs_duckdb"] == 1


# ---------------------------------------------------------------------------
# keyed-merge verifier: the journal's last writes, then one bad row
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def merge_case():
    log = gen.merge_journal(8, 200, 2)
    truth = verify.journal_truth(log.base + log.deltas[0] + log.deltas[1])
    target = pd.DataFrame({"item_id": list(truth), "value": [v for v, _ in truth.values()],
                           "pos": [p for _, p in truth.values()], "__epoch": 0})
    return log, truth, target


def _check_merge(case, tmp_path, target) -> dict[str, int]:
    target.to_parquet(tmp_path / "part-0.parquet", index=False)
    return dict(verify.verify_merged_keys(str(tmp_path), case[1]))


def test_journal_truth_keeps_the_last_write_and_its_offset(merge_case):
    log, truth, _ = merge_case
    text = "".join(line + "\n" for line in log.base + log.deltas[0] + log.deltas[1]).encode()
    assert len(truth) == 200 + 2 * gen.MERGE_NEW
    for key, (value, pos) in truth.items():
        end = text.index(b"\n", pos)
        assert json.loads(text[pos:end].decode()) == {"item_id": key, "value": value}
        assert f'"item_id": {json.dumps(key, ensure_ascii=False)}'.encode() not in text[end:]


def test_merge_verifier_accepts_the_truth(merge_case, tmp_path):
    assert not any(_check_merge(merge_case, tmp_path, merge_case[2].copy()).values())


@pytest.mark.parametrize("column,delta", [("value", 0.001), ("pos", 1)])
def test_merge_verifier_rejects_a_planted_row(merge_case, tmp_path, column, delta):
    target = merge_case[2].copy()
    target.loc[3, column] += delta
    assert _check_merge(merge_case, tmp_path, target)["merge_vs_journal"] == 1


def test_merge_verifier_rejects_a_missing_and_a_duplicate_row(merge_case, tmp_path):
    target = merge_case[2]
    checks = _check_merge(merge_case, tmp_path, pd.concat([target.iloc[1:], target.iloc[[5]]]))
    assert checks["merge_row_count"] == 0  # one row short, one too many
    assert checks["merge_duplicate_keys"] == 1 and checks["merge_vs_journal"] >= 1


# ---------------------------------------------------------------------------
# similarity verifier
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def similar_case():
    t, v, x = gen.chunk_embeddings(4, 120, 8)
    gated = set(range(0, 120, 3)) | set(range(1, 120, 3))
    oracle = verify.SimilarityOracle(t, v, x, gated)
    rows = [
        (a, n, r + 1, s)
        for a in sorted(gated)
        for r, (n, s) in enumerate(oracle.expected(a, 15, 5))
    ]
    return oracle, pd.DataFrame(rows, columns=["anchor_id", "neighbor_id", "rank", "score"])


def _write_shards(rows: pd.DataFrame, out, header: str = verify.SHARD_HEADER) -> str:
    for shard, part in rows.groupby(rows.anchor_id % 4):
        d = os.path.join(out, f"shard={shard}")
        os.makedirs(d)
        with open(os.path.join(d, "part-0.csv"), "w") as fh:
            fh.write(header + "\n")
            part.to_csv(fh, header=False, index=False)
    return str(out)


def test_similar_verifier_accepts_the_recompute(similar_case, tmp_path):
    oracle, rows = similar_case
    sample = sorted(int(a) for a in oracle.ids)[:20]
    checks = verify.verify_similar(_write_shards(rows, tmp_path), oracle, sample, 15, 5)
    assert [c for c in checks if c[1]] == []


def test_similar_verifier_rejects_a_planted_neighbour(similar_case, tmp_path):
    oracle, rows = similar_case
    bad = rows.copy()
    anchor = int(bad.anchor_id.iloc[0])
    far = int(oracle.ids[np.argmin(oracle.cosines(anchor))])
    bad.loc[0, "neighbor_id"] = far
    checks = dict(verify.verify_similar(_write_shards(bad, tmp_path), oracle, [anchor], 15, 5))
    assert checks["sampled_anchor_ranks"] == 1


def test_similar_verifier_rejects_a_wrong_score_and_header(similar_case, tmp_path):
    oracle, rows = similar_case
    bad = rows.copy()
    bad.loc[1, "score"] = bad.loc[1, "score"] + 0.01
    anchor = int(bad.anchor_id.iloc[1])
    checks = dict(verify.verify_similar(
        _write_shards(bad, tmp_path, header="anchor,neighbor,rank,score"), oracle, [anchor], 15, 5))
    assert checks["sampled_anchor_ranks"] == 1
    assert checks["shard_header"] > 0


# ---------------------------------------------------------------------------
# metric names and the tail rule
# ---------------------------------------------------------------------------

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def test_metric_names_and_counts():
    e2e, layer = SPEC["end_to_end"], SPEC["per_layer"]
    names = [m["name"] for m in e2e + layer + SPEC["workloads"]]
    assert all(NAME.match(n) for n in names)
    assert len(set(names)) == len(names)
    assert 1 <= len(e2e) <= 16 and 1 <= len(layer) <= 128
    assert {m["name"] for m in e2e} == {
        "setup_s", "items_per_s", "latency_p50_s", "latency_tail_s",
        "stored_bytes_per_item", "peak_rss_mb",
    }
    assert all(0 < m["bound"] <= 0.25 for m in e2e)
    setup_bound = next(m["bound"] for m in e2e if m["name"] == "setup_s")
    assert all(m["bound"] <= setup_bound for m in e2e)
    assert [w["name"] for w in SPEC["workloads"]] == ["similar_tracks", "journal_merge"]


def test_tail_percentile_keeps_ten_samples_beyond():
    xs = list(range(1, 101))
    value, pct = tail_percentile([float(x) for x in xs])
    assert pct == 90.0 and value == 90.0 and sum(x > value for x in xs) == 10
    assert tail_percentile([3.0, 1.0, 2.0]) == (3.0, 100.0)
