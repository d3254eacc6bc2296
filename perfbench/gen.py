"""Seeded input generators for the benchmark.

Kept apart from the engine's own synthetic data and test fixtures so a
change to the program can never shift the workload. Every generator is a
pure function of its seed and size arguments: the same seed gives the
same rows, and `write_*` lays them down as byte-identical parquet.

Shapes follow the TLMC archive: circles own Zipf-skewed album counts,
albums are single- or multi-disc with bonus, scan and artwork dirs, about
30% of track filenames are non-canonical, about 5% of tracks have no
probe row, and names mix ASCII with Japanese text.
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

MANIFEST_SCHEMA = pa.schema(
    [
        ("path", pa.string()),
        ("circle_dir", pa.string()),
        ("album_dir", pa.string()),
        ("rel_dir", pa.string()),
        ("filename", pa.string()),
        ("ext", pa.string()),
        ("size_bytes", pa.int64()),
        ("mtime_s", pa.int64()),
    ]
)
TAGS_TYPE = pa.struct(
    [
        ("track", pa.string()),
        ("artist", pa.string()),
        ("title", pa.string()),
        ("album", pa.string()),
        ("album_artist", pa.string()),
        ("date", pa.string()),
        ("event", pa.string()),
    ]
)
PROBE_SCHEMA = pa.schema(
    [
        ("path", pa.string()),
        ("duration_s", pa.float64()),
        ("tags", TAGS_TYPE),
        ("has_cuesheet", pa.bool_()),
    ]
)
CHUNK_SCHEMA = pa.schema(
    [("track", pa.int64()), ("vec_id", pa.int64()), ("vec", pa.list_(pa.float32()))]
)

WORDS = [
    "Silver", "Crimson", "Emerald", "Lunar", "Phantom", "Aurora", "Scarlet",
    "Nocturne", "Eastern", "Dream", "Requiem", "Starlight", "Sakura", "Mirage",
    "東方", "幻想", "紅魔", "月夜", "風神", "夢違", "桜花", "星蓮", "永夜", "花映",
]
ARTISTS = [
    "Alice", "Bob", "Carol", "Dave", "Eve", "Mallory", "結月", "みこ", "ARM",
    "nayuta", "Kei", "あき", "void", "Rin", "Tsukasa", "紫",
]
CONVENTIONS = ["C80", "C85", "C97", "C100", "RTS8", "RTS11", "M3-45", "M3-50"]
DISC_STYLES = ["Disc {n}", "CD{n}", "disc-{n}", "DISC.{n}", "{n}"]
BONUS_DIRS = ["Bonus", "Extra Tracks", "特典 Bonus", "Omake"]
AUDIO_EXTS = ["flac", "flac", "flac", "mp3", "wav", "m4a"]
# Shares of album dirs with a `[ABC-0123]` catalog-number token and with
# a `[C97]`-style convention token, drawn independently: doujin releases
# outside the big events often carry neither.
CATALOG_TOKEN_SHARE = 0.6
CONVENTION_TOKEN_SHARE = 0.7


@dataclass
class AlbumTruth:
    """What the generator intended for one album: the catalog's answers."""

    circle_dir: str
    album_dir: str
    disc_tracks: dict[int, int] = field(default_factory=dict)  # disc -> n tracks
    disc_dirs: dict[int, str | None] = field(default_factory=dict)  # disc -> rel_dir
    probe_missing: bool = False
    has_date: bool = True

    @property
    def track_count(self) -> int:
        return sum(self.disc_tracks.values())

    @property
    def review_reasons(self) -> list[str]:
        out = []
        if self.probe_missing:
            out.append("probe_missing")
        if not self.has_date:
            out.append("no_release_date")
        return out


@dataclass
class Catalog:
    manifest: list[tuple]
    probe: list[tuple]
    albums: list[AlbumTruth]


def _zipf_circle_weights(n_circles: int, s: float = 1.1) -> list[float]:
    return [1.0 / (r ** s) for r in range(1, n_circles + 1)]


def _circle_name(rng: random.Random, i: int) -> str:
    a, b = rng.choice(WORDS), rng.choice(WORDS)
    return f"[{a} {b} {i:04d}]" if i % 3 else f"[{a} Works {i:04d}] {b}"


def _album_dir(rng: random.Random, a: int) -> tuple[str, bool]:
    r = rng.random()
    year = 2005 + rng.randrange(18)
    month = rng.randrange(1, 13)
    day = rng.randrange(1, 29)
    if r < 0.70:
        date = f"{year}.{month:02d}.{day:02d} "
    elif r < 0.85:
        date = f"{year}.{month:02d}.xx "
    elif r < 0.90:
        date = f"{year}.xx.xx "
    else:
        date = ""
    letters = "".join(rng.choice("ABCDEFGHKLMRSTX") for _ in range(rng.randrange(2, 5)))
    catalog_no = rng.random() < CATALOG_TOKEN_SHARE
    convention = rng.random() < CONVENTION_TOKEN_SHARE
    parts = [date, f"[{letters}-{rng.randrange(10, 9999):04d}] " if catalog_no else ""]
    parts.append(f"{rng.choice(WORDS)} {rng.choice(WORDS)} {a}")
    if rng.random() < 0.15:
        parts.append(" (Arrange Vol.2)")
    if rng.random() < 0.10:
        parts.append(" 【東方アレンジ】")
    if convention:
        parts.append(f" [{rng.choice(CONVENTIONS)}]")
    return "".join(parts), bool(date)


def _track_filename(rng: random.Random, d: int, t: int, artist: str, title: str, ext: str) -> str:
    """About 70% canonical `(NN) [Artist] Title.ext`, the rest messy."""
    r = rng.random()
    if r < 0.70:
        return f"({t:02d}) [{artist}] {title}.{ext}"
    if r < 0.85:
        return f"{d}-{t:02d} {title}.{ext}"
    if r < 0.93:
        return f"{title}.{ext}"
    return f"{t:02d}. {title} - {artist}.{ext}"


def _add_disc(
    rng: random.Random,
    cat: Catalog,
    truth: AlbumTruth,
    rel_dir: str | None,
    disc_no: int,
    n_tracks: int,
    album_ix: int,
    ts: int,
) -> None:
    sub = f"/{rel_dir}" if rel_dir else ""
    base = f"{truth.circle_dir}/{truth.album_dir}{sub}"
    ext = rng.choice(AUDIO_EXTS)
    for t in range(1, n_tracks + 1):
        artist = rng.choice(ARTISTS)
        title = f"{rng.choice(WORDS)} {rng.choice(WORDS)} {disc_no}.{t}"
        fname = _track_filename(rng, disc_no, t, artist, title, ext)
        path = f"{base}/{fname}"
        cat.manifest.append(
            (path, truth.circle_dir, truth.album_dir, rel_dir, fname, ext,
             rng.randrange(5_000_000, 60_000_000), ts + t)
        )
        if rng.random() < 0.05:
            truth.probe_missing = True
            continue
        tag_no = f"{t}/{n_tracks}" if rng.random() < 0.3 else str(t)
        cat.probe.append(
            (path, round(60.0 + rng.random() * 400.0, 3),
             {"track": tag_no, "artist": artist, "title": title,
              "album": f"Album {album_ix}", "album_artist": artist,
              "date": "2011-05-08", "event": rng.choice(CONVENTIONS)},
             False)
        )
    truth.disc_tracks[disc_no] = n_tracks
    truth.disc_dirs[disc_no] = rel_dir
    if rng.random() < 0.3:
        for name in ("album.log", "album.cue"):
            cat.manifest.append(
                (f"{base}/{name}", truth.circle_dir, truth.album_dir, rel_dir,
                 name, name.rsplit(".", 1)[1], 4_000, ts)
            )


def _add_album(rng: random.Random, cat: Catalog, circle: str, a: int) -> AlbumTruth:
    album_dir, has_date = _album_dir(rng, a)
    truth = AlbumTruth(circle, album_dir, has_date=has_date)
    ts = 1_600_000_000 + a * 1_000
    if rng.random() < 0.8:
        _add_disc(rng, cat, truth, None, 1, rng.randrange(4, 17), a, ts)
        cat.manifest.append(
            (f"{circle}/{album_dir}/cover.jpg", circle, album_dir, None,
             "cover.jpg", "jpg", 400_000, ts)
        )
        n_discs = 1
    else:
        n_discs = rng.randrange(2, 5)
        style = rng.choice(DISC_STYLES)
        for d in range(1, n_discs + 1):
            _add_disc(rng, cat, truth, style.format(n=d), d, rng.randrange(4, 17), a, ts)
    if rng.random() < 0.1:
        _add_disc(rng, cat, truth, rng.choice(BONUS_DIRS), n_discs + 1, rng.randrange(1, 4), a, ts)
    if n_discs > 1 or rng.random() < 0.4:
        scan_dir = rng.choice(["Scans", "scan", "Artwork", "BK"])
        for i in range(rng.randrange(2, 6)):
            name = f"scan{i:02d}.png"
            cat.manifest.append(
                (f"{circle}/{album_dir}/{scan_dir}/{name}", circle, album_dir,
                 scan_dir, name, "png", 900_000, ts)
            )
    if rng.random() < 0.02:
        cat.manifest.append(
            (f"{circle}/{album_dir}/Stems/project.als", circle, album_dir,
             "Stems", "project.als", "als", 12_000, ts)
        )
    cat.albums.append(truth)
    return truth


def catalog(seed: int, n_albums: int, first_album: int = 0, circles: list[str] | None = None) -> Catalog:
    """A TLMC-shaped manifest/probe of exactly `n_albums` albums.

    Circles are drawn Zipf-skewed from `circles` (or a fresh set of about
    n_albums/4 names). `first_album` offsets album numbering so a later
    batch of albums never collides with an earlier one."""
    rng = random.Random(seed)
    if circles is None:
        circles = [_circle_name(rng, i) for i in range(max(1, n_albums // 4))]
    weights = _zipf_circle_weights(len(circles))
    picks = rng.choices(circles, weights=weights, k=n_albums)
    cat = Catalog([], [], [])
    for i, circle in enumerate(picks):
        _add_album(rng, cat, circle, first_album + i)
    return cat


def circles_of(cat: Catalog) -> list[str]:
    return sorted({a.circle_dir for a in cat.albums})


def write_catalog(cat: Catalog, manifest_path: str, probe_path: str) -> None:
    """Write the manifest and probe as single parquet files."""
    write_rows(cat.manifest, MANIFEST_SCHEMA, manifest_path)
    write_rows(cat.probe, PROBE_SCHEMA, probe_path)


def write_rows(rows: list[tuple], schema: pa.Schema, path: str) -> None:
    cols = list(zip(*rows)) if rows else [[] for _ in schema]
    table = pa.table(
        {f.name: pa.array(list(c), type=f.type) for f, c in zip(schema, cols)},
        schema=schema,
    )
    pq.write_table(table, path, compression="snappy")


# ---------------------------------------------------------------------------
# Chunk embeddings for the similarity workload
# ---------------------------------------------------------------------------


OVER_CAP_FRAC = 0.03


def chunk_embeddings(seed: int, n_tracks: int, dim: int):
    """Clustered, ragged chunk embeddings.

    Returns (track_ids int64[n_rows], vec_ids int64[n_rows], vecs
    float32[n_rows, dim]). Tracks sit near one of n_tracks/40 cluster
    centres; chunk counts are ragged (4..40) and OVER_CAP_FRAC of the
    tracks carry 97..130 chunks, past the rerank's 96-chunk cap."""
    rng = np.random.default_rng(seed)
    n_clusters = max(2, n_tracks // 40)
    centres = rng.standard_normal((n_clusters, dim))
    cluster = rng.integers(0, n_clusters, n_tracks)
    counts = rng.integers(4, 41, n_tracks)
    over = rng.random(n_tracks) < OVER_CAP_FRAC
    counts[over] = rng.integers(97, 131, int(over.sum()))
    track_centre = centres[cluster] + 0.6 * rng.standard_normal((n_tracks, dim))
    track_ids = np.repeat(np.arange(n_tracks, dtype=np.int64), counts)
    noise = rng.standard_normal((len(track_ids), dim))
    vecs = (track_centre[track_ids] + 0.8 * noise).astype(np.float32)
    vec_ids = np.arange(len(track_ids), dtype=np.int64)
    # rows land shuffled so the cap's vec_id order is not the file order
    perm = rng.permutation(len(track_ids))
    return track_ids[perm], vec_ids[perm], vecs[perm]


RELEASE_SCHEMA = pa.schema(
    [
        ("circle_dir", pa.string()),
        ("album_dir", pa.string()),
        ("album_name", pa.string()),
        ("needs_review_reasons", pa.string()),
    ]
)


def write_release(rows: list[tuple[str, str, str, str]], path: str) -> None:
    """A gold release table for the similarity gate: (circle_dir,
    album_dir, album_name, needs_review_reasons '|'-joined, '' when
    clean)."""
    write_rows(rows, RELEASE_SCHEMA, path)


def write_chunks(track_ids, vec_ids, vecs, path: str) -> None:
    dim = vecs.shape[1]
    flat = pa.array(vecs.reshape(-1), type=pa.float32())
    offsets = pa.array(np.arange(0, len(vecs) * dim + 1, dim, dtype=np.int32))
    table = pa.table(
        {
            "track": pa.array(track_ids),
            "vec_id": pa.array(vec_ids),
            "vec": pa.ListArray.from_arrays(offsets, flat),
        },
        schema=CHUNK_SCHEMA,
    )
    pq.write_table(table, path, compression="snappy")


# ---------------------------------------------------------------------------
# Album-change deltas for the incremental workload
# ---------------------------------------------------------------------------


@dataclass
class Delta:
    manifest: list[tuple]
    probe: list[tuple]
    journal_lines: list[str]
    retouched: list[tuple[str, str]]  # existing albums gaining a disc-1 track
    fresh: list[AlbumTruth]  # new albums

    @property
    def albums(self) -> list[tuple[str, str]]:
        """Distinct albums the delta touches."""
        return self.retouched + [(a.circle_dir, a.album_dir) for a in self.fresh]


DELTA_RETOUCH = 6
DELTA_NEW = 4
DELTA_DUP = 3


def deltas(seed: int, base: Catalog, n_deltas: int) -> list[Delta]:
    """`n_deltas` album-change deltas against `base`.

    Each delta re-touches DELTA_RETOUCH existing albums (one extra audio
    file lands in the album's first disc dir), adds DELTA_NEW albums, and
    repeats DELTA_DUP of its journal lines. A re-touched album may be
    touched again by a later delta."""
    rng = random.Random(seed ^ 0x5EED)
    circles = circles_of(base)
    known = [(a.circle_dir, a.album_dir, a) for a in base.albums]
    # tracks on each album's first disc so far; `base` itself stays untouched
    first_disc = {(a.circle_dir, a.album_dir): a.disc_tracks[1] for a in base.albums}
    out = []
    next_album = len(base.albums)
    for k in range(n_deltas):
        fresh = catalog(rng.randrange(1 << 30), DELTA_NEW, first_album=1_000_000 + next_album,
                        circles=circles)
        next_album += DELTA_NEW
        d = Delta(list(fresh.manifest), list(fresh.probe), [], [], list(fresh.albums))
        for circle, album, truth in rng.sample(known, DELTA_RETOUCH):
            rel_dir = truth.disc_dirs[1]
            sub = f"/{rel_dir}" if rel_dir else ""
            artist = rng.choice(ARTISTS)
            t = first_disc[(circle, album)] + 1
            first_disc[(circle, album)] = t
            fname = f"({t:02d}) [{artist}] Retake {k}.flac"
            path = f"{circle}/{album}{sub}/{fname}"
            d.manifest.append((path, circle, album, rel_dir, fname, "flac", 20_000_000, 1_700_000_000 + k))
            d.probe.append(
                (path, 200.0 + k,
                 {"track": str(t), "artist": artist, "title": f"Retake {k}",
                  "album": "", "album_artist": artist, "date": "", "event": ""},
                 False)
            )
            d.retouched.append((circle, album))
        for a in fresh.albums:
            known.append((a.circle_dir, a.album_dir, a))
            first_disc[(a.circle_dir, a.album_dir)] = a.disc_tracks[1]
        lines = [json.dumps({"circle_dir": c, "album_dir": a}, ensure_ascii=False) for c, a in d.albums]
        lines += rng.sample(lines, min(DELTA_DUP, len(lines)))
        rng.shuffle(lines)
        d.journal_lines = lines
        out.append(d)
    return out


def write_deltas(ds: list[Delta], out_dir: str) -> None:
    """Delta k lands as out_dir/k/{manifest,probe}.parquet + journal.jsonl."""
    for k, d in enumerate(ds):
        kdir = os.path.join(out_dir, f"{k:05d}")
        os.makedirs(kdir, exist_ok=True)
        write_rows(d.manifest, MANIFEST_SCHEMA, os.path.join(kdir, "manifest.parquet"))
        write_rows(d.probe, PROBE_SCHEMA, os.path.join(kdir, "probe.parquet"))
        with open(os.path.join(kdir, "journal.jsonl"), "w", encoding="utf-8") as fh:
            fh.writelines(line + "\n" for line in d.journal_lines)


# ---------------------------------------------------------------------------
# Keyed change journal for the journal-merge workload
# ---------------------------------------------------------------------------

# per delta: keys already in the target that get a new value, keys new to
# it, and lines repeating one of the delta's keys with a later value
MERGE_RETOUCH = 60
MERGE_NEW = 40
MERGE_DUP = 20


@dataclass
class MergeJournal:
    base: list[str]  # journal lines of the catch-up
    deltas: list[list[str]]  # journal lines of each delta, in append order
    changed: list[int]  # distinct keys each delta touches


def _merge_line(key: str, value: float) -> str:
    return json.dumps({"item_id": key, "value": value}, ensure_ascii=False)


def merge_journal(seed: int, n_base: int, n_deltas: int) -> MergeJournal:
    """`n_base` distinct keys, then `n_deltas` deltas of MERGE_RETOUCH
    re-touched keys, MERGE_NEW new keys and MERGE_DUP repeated keys.

    Keys are the track paths of a TLMC-shaped manifest (unicode, deep
    directories); values are track durations in seconds."""
    rng = random.Random(seed ^ 0x70A1)
    need = n_base + n_deltas * MERGE_NEW
    paths: list[str] = []
    n_albums = need // 8 + 1
    while len(paths) < need:
        paths = [row[0] for row in catalog(seed, n_albums).manifest]
        n_albums *= 2
    paths = paths[:need]
    value = lambda: round(rng.uniform(60.0, 460.0), 3)  # noqa: E731
    base = [_merge_line(p, value()) for p in paths[:n_base]]
    known = paths[:n_base]
    out = MergeJournal(base, [], [])
    for k in range(n_deltas):
        fresh = paths[n_base + k * MERGE_NEW: n_base + (k + 1) * MERGE_NEW]
        keys = rng.sample(known, MERGE_RETOUCH) + fresh
        lines = [_merge_line(p, value()) for p in keys]
        rng.shuffle(lines)
        # a repeat lands after the line it repeats, so the later value wins
        for i in sorted(rng.sample(range(len(lines)), MERGE_DUP), reverse=True):
            key = json.loads(lines[i])["item_id"]
            lines.insert(rng.randrange(i + 1, len(lines) + 1), _merge_line(key, value()))
        known += fresh
        out.deltas.append(lines)
        out.changed.append(len(keys))
    return out
