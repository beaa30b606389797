"""Round-5 feature tests: file-level min/max statistics + data skipping
in the lake layer (VERDICT r4 #1)."""

from __future__ import annotations

import datetime as dt

import pandas as pd
import pytest
from pyspark.sql import functions as F

from nifi_tekst_bundle_spark.table.lake import LakeTable
from tests.conftest import spark_events


def _ev(spark, rows):
    base = {
        "batch_id": "b0", "op": "insert", "turn_idx": 0,
        "src_conv_id": None, "src_turn_idx": None, "role": "user",
        "text": None, "tool": None, "ts": None, "schema_version": 1,
        "extra": None,
    }
    return spark_events(spark, pd.DataFrame([{**base, **r} for r in rows]))


@pytest.fixture(scope="module")
def stats_table(spark, tmp_path_factory):
    """200 turns over 10 conversations (turn_idx 0..19), one commit, then
    optimize_layout into 4 range-split files per bucket sorted by
    turn_idx."""
    tmp = tmp_path_factory.mktemp("lake_stats")
    t = LakeTable.create(spark, str(tmp / "t"), n_buckets=4)
    t.merge_batch(
        spark,
        _ev(spark, [
            {"lsn": i + 1, "conv_id": f"conv-{i % 10:02d}",
             "turn_idx": i // 10, "text": f"t{i}",
             "ts": dt.datetime(2026, 1, 1) + dt.timedelta(minutes=i)}
            for i in range(200)
        ]),
        fence_key="e0", epoch_id=0,
    )
    t.optimize_layout(spark, sort_cols=("turn_idx",), files_per_bucket=4)
    return t


def test_file_stats_recorded_in_manifest(stats_table):
    m = stats_table.manifest()
    assert len(m.files) > 4  # range-split: more files than buckets
    for f in m.files:
        stats = f.get("stats")
        assert stats, f"file entry without stats: {f}"
        lo, hi = stats["turn_idx"]
        assert 0 <= lo <= hi <= 19
        lo, hi = stats["_lsn_up"]
        assert 1 <= lo <= hi <= 200
        # ts stats are epoch microseconds (JSON-safe ints)
        lo, hi = stats["ts"]
        assert isinstance(lo, int) and isinstance(hi, int) and lo <= hi


def test_turn_range_scan_skips_files_and_stays_exact(spark, stats_table):
    t = stats_table
    full = t.visible(spark).filter("turn_idx between 0 and 4")
    pruned = t.visible(spark, prune={"turn_idx": (0, 4)})
    scan = t.last_scan
    # the criterion: fewer files read than exist (VERDICT r4 #1 "done")
    assert scan["files_skipped"] > 0
    assert scan["files_read"] < scan["files_candidate"]
    cols = ["conv_id", "turn_idx", "text"]
    assert sorted(map(tuple, pruned.select(*cols).collect())) == sorted(
        map(tuple, full.select(*cols).collect())
    )


def test_lsn_catchup_scan_skips_files_and_stays_exact(spark, stats_table):
    """The CDC catch-up read: keys last upserted at/after an lsn floor."""
    t = stats_table
    pruned = t.visible(spark, prune={"_lsn_up": (150, None)})
    scan = t.last_scan
    assert scan["files_skipped"] > 0
    # lsn correlates with turn_idx here (insert order), so the range-split
    # layout prunes this scan too; exactness vs the register-level filter
    regs = t.read_registers(spark)
    want = regs.filter(F.col("_lsn_up") >= 150).count()
    assert pruned.count() == want


def test_ts_range_scan_accepts_datetime_bounds(spark, stats_table):
    t = stats_table
    lo = dt.datetime(2026, 1, 1, 0, 30)
    hi = dt.datetime(2026, 1, 1, 1, 0)
    pruned = t.visible(spark, prune={"ts": (lo, hi)})
    assert t.last_scan["files_skipped"] > 0
    full = t.visible(spark).filter(
        (F.col("ts") >= F.lit(lo)) & (F.col("ts") <= F.lit(hi))
    )
    cols = ["conv_id", "turn_idx"]
    assert sorted(map(tuple, pruned.select(*cols).collect())) == sorted(
        map(tuple, full.select(*cols).collect())
    )


def test_ts_range_scan_with_column_subset(spark, stats_table):
    """A row-level prune column outside ``cols`` is read for the filter and
    not returned."""
    t = stats_table
    lo = dt.datetime(2026, 1, 1, 0, 30)
    hi = dt.datetime(2026, 1, 1, 1, 0)
    pruned = t.visible(spark, cols=["text"], prune={"ts": (lo, hi)})
    assert pruned.columns == ["conv_id", "turn_idx", "text"]
    full = t.visible(spark).filter(
        (F.col("ts") >= F.lit(lo)) & (F.col("ts") <= F.lit(hi))
    )
    assert sorted(map(tuple, pruned.collect())) == sorted(
        map(tuple, full.select(*pruned.columns).collect())
    )


def test_prune_keeps_statless_files():
    """Legacy file entries (pre-stats commits) and all-null columns carry
    no stats entry — they must always be read (sound, never fast-wrong)."""
    files = [
        {"path": "a", "bucket": 0, "stats": {"turn_idx": [0, 4]}},
        {"path": "b", "bucket": 0, "stats": {"turn_idx": [10, 19]}},
        {"path": "c", "bucket": 0},  # legacy: no stats at all
        {"path": "d", "bucket": 0, "stats": {}},  # all-null column
    ]
    kept, skipped = LakeTable._prune_by_stats(files, {"turn_idx": (0, 5)})
    assert [f["path"] for f in kept] == ["a", "c", "d"]
    assert skipped == 1
    # open-ended bounds
    kept, _ = LakeTable._prune_by_stats(files, {"turn_idx": (None, 4)})
    assert [f["path"] for f in kept] == ["a", "c", "d"]
    kept, _ = LakeTable._prune_by_stats(files, {"turn_idx": (11, None)})
    assert [f["path"] for f in kept] == ["b", "c", "d"]


# ------------------------------------------------- perceptual hash (dHash)


def _make_bmp(w, h, pix):
    """Uncompressed 24bpp BMP from pix[r][c] = (r, g, b), top-down."""
    stride = (w * 3 + 3) & ~3
    data = bytearray()
    for row in reversed(range(h)):  # bottom-up storage
        line = bytearray()
        for c in range(w):
            r_, g, b = pix[row][c]
            line += bytes([b, g, r_])
        line += b"\x00" * (stride - len(line))
        data += line
    off, size = 54, 54 + len(data)
    header = (
        b"BM" + size.to_bytes(4, "little") + b"\x00\x00\x00\x00"
        + off.to_bytes(4, "little")
    )
    dib = (
        (40).to_bytes(4, "little")
        + w.to_bytes(4, "little", signed=True)
        + h.to_bytes(4, "little", signed=True)
        + (1).to_bytes(2, "little")
        + (24).to_bytes(2, "little")
        + (0).to_bytes(4, "little")
        + len(data).to_bytes(4, "little")
        + b"\x00" * 16
    )
    return bytes(header + dib + data)


def _make_png(w, h, pix):
    """8-bit RGB PNG (filter 0 rows) from the same pix layout."""
    import struct
    import zlib

    def chunk(typ, data):
        c = typ + data
        return (
            struct.pack(">I", len(data)) + c
            + struct.pack(">I", zlib.crc32(c) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    raw = b""
    for r in range(h):
        raw += b"\x00" + b"".join(bytes(pix[r][c]) for c in range(w))
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def _gradient(w, h, invert=False, edit=False):
    pix = []
    for r in range(h):
        row = []
        for c in range(w):
            v = min(255, r * 6 + c * 4)
            if invert:
                v = 255 - v
            row.append((v, v, v))
        pix.append(row)
    if edit:
        for r in range(2):
            for c in range(4):
                pix[r][c] = (255, 255, 255)
    return pix


def test_image_phash_real_decode_png_bmp(spark):
    """The REAL pixel path (pure-python PNG inflate/unfilter + BMP 24bpp
    walk, PIL when present) through the full mapInPandas plumbing: the
    same pixels through both formats hash identically, a small edit
    moves few bits, an inverted image flips (nearly) all of them."""
    from nifi_tekst_bundle_spark.operators import multimodal

    w, h = 36, 24
    rows = [
        (0, "image", _make_bmp(w, h, _gradient(w, h)), None),
        (1, "image", _make_png(w, h, _gradient(w, h)), None),
        (2, "image", _make_bmp(w, h, _gradient(w, h, edit=True)), None),
        (3, "image", _make_bmp(w, h, _gradient(w, h, invert=True)), None),
    ]
    df = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    out = {
        r["media_id"]: r["phash_bits"]
        for r in multimodal.image_phash(df, decode_stub=False).collect()
    }
    assert all(len(b) == 64 for b in out.values())
    assert out[0] == out[1]  # same pixels, different container

    def ham(a, b):
        return sum(1 for x, y in zip(a, b) if x != y)

    assert 0 < ham(out[0], out[2]) <= 12  # small edit, few bits
    assert ham(out[0], out[3]) >= 48      # inversion flips the gradient
    # and the banded pair join surfaces exactly the near-dup pair
    sig = spark.createDataFrame(
        [(i, b) for i, b in out.items()], "media_id long, phash_bits string"
    )
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in multimodal.phash_near_dups(sig, max_hamming=12).collect()
    }
    assert (0, 1) in pairs and pairs[(0, 1)] == 0
    assert (0, 2) in pairs and 0 < pairs[(0, 2)] <= 12
    assert not any(3 in p for p in pairs)


@pytest.mark.parametrize("n_bands", [0, 3, 5, 7])
def test_phash_near_dups_rejects_bands_not_dividing_64(spark, n_bands):
    from nifi_tekst_bundle_spark.operators import multimodal

    sig = spark.createDataFrame([(0, "0" * 64)], "media_id long, phash_bits string")
    with pytest.raises(ValueError, match="divide 64"):
        multimodal.phash_near_dups(sig, n_bands=n_bands)


def test_image_phash_unrecognized_bytes_raise(spark):
    from nifi_tekst_bundle_spark.operators import multimodal

    if multimodal.HAVE_PIL:
        import pytest as _p

        _p.skip("PIL present — it may decode arbitrary bytes")
    df = spark.createDataFrame(
        [(0, "image", b"not an image", None)], multimodal.MEDIA_SCHEMA
    )
    with pytest.raises(Exception, match="NotImplementedError|phash"):
        multimodal.image_phash(df, decode_stub=False).collect()


def test_prune_rejects_unknown_columns(spark, stats_table):
    with pytest.raises(ValueError, match="no recorded stats"):
        stats_table.visible(spark, prune={"text": (0, 1)})


def test_epoch_commits_after_optimize_still_prune_on_row_groups(
    spark, stats_table, tmp_path
):
    """An ordinary epoch commit rewrites touched buckets as ONE file each
    (wide stats — sound, no skipping there), while untouched buckets keep
    their range-split files; a subsequent range scan still skips within
    the untouched buckets and the answer stays exact."""
    t = stats_table
    t.merge_batch(
        spark,
        _ev(spark, [{"lsn": 500, "conv_id": "conv-00", "turn_idx": 0,
                     "text": "updated", "op": "update"}]),
        fence_key="e1", epoch_id=1,
    )
    full = t.visible(spark).filter("turn_idx between 0 and 4")
    pruned = t.visible(spark, prune={"turn_idx": (0, 4)})
    assert t.last_scan["files_skipped"] > 0
    cols = ["conv_id", "turn_idx", "text"]
    assert sorted(map(tuple, pruned.select(*cols).collect())) == sorted(
        map(tuple, full.select(*cols).collect())
    )
    assert pruned.filter(
        (F.col("conv_id") == "conv-00") & (F.col("turn_idx") == 0)
    ).first()["text"] == "updated"


def test_prune_by_stats_soundness_property():
    """Property (pure python, no Spark): for ANY file stats and ANY
    range predicate, pruning never drops a file that could hold a
    matching row — i.e. a skipped file's recorded range is provably
    disjoint from the predicate range."""
    from hypothesis import given, strategies as st

    rng = st.integers(min_value=-50, max_value=50)
    file_strat = st.builds(
        lambda lo, span, has: (
            {"path": "f", "bucket": 0, "stats": {"c": [lo, lo + span]}}
            if has
            else {"path": "f", "bucket": 0}
        ),
        rng,
        st.integers(min_value=0, max_value=30),
        st.booleans(),
    )
    bound = st.one_of(st.none(), rng)

    @given(st.lists(file_strat, max_size=8), bound, bound)
    def check(files, lo, hi):
        kept, skipped = LakeTable._prune_by_stats(files, {"c": (lo, hi)})
        assert len(kept) + skipped == len(files)
        kept_ids = {id(f) for f in kept}
        for f in files:
            stats = f.get("stats", {}).get("c")
            if stats is None:
                assert id(f) in kept_ids  # statless files always read
                continue
            mn, mx = stats
            # the file's range intersects the predicate range iff some
            # v in [mn, mx] satisfies lo <= v <= hi
            intersects = (hi is None or mn <= hi) and (lo is None or mx >= lo)
            if intersects:
                assert id(f) in kept_ids
            else:
                assert id(f) not in kept_ids

    check()
