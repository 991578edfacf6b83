"""Property tests (hypothesis) for the r9 surfaces with exact round-trip
contracts: WAV encode/decode, y4m encode/decode + seek-sampling, and the
parquet checkpoint sidecar's (tables, stats) hydration.  All pure driver
code — no Spark session."""

import json

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from chainweb_data_spark.operators.wav import decode_wav, encode_wav
from chainweb_data_spark.operators.y4m import (
    decode_y4m,
    encode_y4m,
    y4m_sample_frames,
)


@st.composite
def _pcm(draw):
    n = draw(st.integers(min_value=1, max_value=400))
    ch = draw(st.integers(min_value=1, max_value=4))
    rate = draw(st.sampled_from([8000, 16000, 22050, 44100]))
    seed = draw(st.integers(min_value=0, max_value=2**31 - 1))
    rng = np.random.default_rng(seed)
    shape = (n,) if ch == 1 else (n, ch)
    return rate, rng.integers(-32768, 32768, size=shape, dtype=np.int16)


@settings(max_examples=40, deadline=None)
@given(_pcm())
def test_wav_roundtrip_exact(pcm):
    rate, x = pcm
    got_rate, got = decode_wav(encode_wav(rate, x))
    assert got_rate == rate
    assert got.shape == x.shape
    assert (got == x).all()


@st.composite
def _planes(draw):
    t = draw(st.integers(min_value=1, max_value=5))
    h = draw(st.integers(min_value=2, max_value=10).map(lambda v: v * 2))
    w = draw(st.integers(min_value=2, max_value=10).map(lambda v: v * 2))
    mode = draw(st.sampled_from(["Cmono", "C444", "C420"]))
    seed = draw(st.integers(min_value=0, max_value=2**31 - 1))
    rng = np.random.default_rng(seed)
    y = rng.integers(0, 256, size=(t, h, w), dtype=np.uint8)
    if mode == "Cmono":
        return mode, y, None, None
    cs = (t, h, w) if mode == "C444" else (t, h // 2, w // 2)
    u = rng.integers(0, 256, size=cs, dtype=np.uint8)
    v = rng.integers(0, 256, size=cs, dtype=np.uint8)
    return mode, y, u, v


@settings(max_examples=30, deadline=None)
@given(_planes(), st.integers(min_value=1, max_value=7))
def test_y4m_decode_and_seek_agree(planes, k):
    """decode_y4m and the offset-arithmetic sampler must agree bitwise on
    every sampled frame, for every colorspace and sampling stride — and
    the mono path must round-trip Y exactly."""
    mode, y, u, v = planes
    data = encode_y4m(y, u, v) if u is not None else encode_y4m(y)
    full = decode_y4m(data)
    assert full.shape == (y.shape[0], y.shape[1], y.shape[2], 3)
    for idx, fr in y4m_sample_frames(data, k):
        assert (fr == full[idx]).all()
    if mode == "Cmono":
        assert (full[:, :, :, 0] == y).all()


_stat_scalar = st.one_of(
    st.integers(min_value=-(2**53), max_value=2**53),
    st.floats(allow_nan=False, allow_infinity=False, width=32),
    st.text(max_size=12),
    st.none(),
    st.booleans(),
)


@st.composite
def _snapshot(draw):
    n_tables = draw(st.integers(min_value=1, max_value=4))
    tables, stats = {}, {}
    for t in range(n_tables):
        # nested partition dirs, unicode-ish names, empty stats allowed
        name = draw(
            st.sampled_from(["t", "dedup_index/bands", "events", "docs"])
        ) + str(t)
        n_files = draw(st.integers(min_value=0, max_value=6))
        fs, per = [], {}
        for i in range(n_files):
            rel = draw(
                st.sampled_from(["", "bucket=3/", "a=1/b=2/"])
            ) + f"part-{i}.parquet"
            if rel in fs:
                continue
            fs.append(rel)
            if draw(st.booleans()):
                per[rel] = {
                    f"c{j}": [draw(_stat_scalar), draw(_stat_scalar)]
                    for j in range(draw(st.integers(0, 3)))
                }
        if fs:
            tables[name] = sorted(fs)
            if per:
                stats[name] = per
    return tables, stats


@settings(max_examples=30, deadline=None)
@given(_snapshot())
def test_checkpoint_sidecar_roundtrip(tmp_path_factory, snap):
    """Whatever (tables, stats) shape staging produces — nested table
    names, partition-dir paths, heterogeneous / missing stats — a v1
    checkpoint's parquet sidecar must resolve back EXACTLY through the
    one resolver (``_snapshot``, read cold from the sidecar) and
    ``read_manifest`` (empty stats dicts are normalized away, matching
    the inline form's `if s` filter)."""
    import chainweb_data_spark.streaming.publish as pub

    tables, stats = snap
    d = str(tmp_path_factory.mktemp("sidecar"))
    pub._commit_delta(d, 1, tables, {}, stats, op="seed")
    ck = pub._load_commit(d, 1)
    assert ck["n_files"] == sum(len(fs) for fs in tables.values())
    assert ck["n_files_by_table"] == {
        t: len(fs) for t, fs in sorted(tables.items())
    }
    want_stats = {
        t: {f: s for f, s in per.items() if s}
        for t, per in stats.items()
        if any(per.values())
    }
    pub._SNAP_CACHE.clear()
    got = pub._snapshot(d, 1).to_pydict()
    assert list(zip(got["table"], got["file"])) == [
        (t, f) for t in sorted(tables) for f in tables[t]
    ]
    assert [json.loads(s) if s else None for s in got["stats"]] == [
        want_stats.get(t, {}).get(f) for t in sorted(tables) for f in tables[t]
    ]
    pub._SNAP_CACHE.clear()
    files_only = pub._snapshot(d, 1, stats=False)
    assert files_only.column_names == ["table", "file"]
    assert files_only.to_pydict() == {"table": got["table"], "file": got["file"]}
    pub._SNAP_CACHE.clear()
    m = pub.read_manifest(d, 1)
    assert m["tables"] == tables and m["stats"] == want_stats
