"""Structured-Streaming event operators: watermark+window aggregation and
the applyInPandasWithState sessionizer, both checked against their exact
batch twins on the deterministic sf0.001 events fixture."""

import glob
import os
import shutil

import pandas as pd
import pytest

SRC = "/root/testdata/sf0.001/events.parquet"


@pytest.fixture()
def events_dir(tmp_path):
    d = tmp_path / "ev_src"
    os.makedirs(d)
    if os.path.isdir(SRC):
        for f in glob.glob(os.path.join(SRC, "*.parquet")):
            shutil.copy(f, d)
    else:
        shutil.copy(SRC, d)
    return str(d)


def _events_pdf() -> pd.DataFrame:
    if os.path.isdir(SRC):
        return pd.concat(pd.read_parquet(f) for f in glob.glob(SRC + "/*.parquet"))
    return pd.read_parquet(SRC)


def test_stream_window_stats_matches_batch(spark, events_dir, tmp_path):
    """Append-mode watermarked windows: everything emitted must equal the
    batch aggregation for that window, and every window that the final
    watermark passed must be present."""
    from searchengines_spark.streaming import stream_event_window_stats

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = stream_event_window_stats(spark, events_dir, out, ckpt)
    q.awaitTermination(180)

    got = spark.read.parquet(out).toPandas()
    assert len(got) > 0

    ev = _events_pdf()
    ev["win_start"] = ev["ts"].dt.floor("h")
    want = (ev.groupby(["win_start", "event_type"])
            .agg(n=("event_id", "size"), sum_value=("value", "sum"))
            .reset_index())
    wmap = {(r.win_start, r.event_type): (r.n, r.sum_value)
            for r in want.itertuples()}
    for r in got.itertuples():
        k = (r.win_start, r.event_type)
        assert k in wmap, k
        assert r.n == wmap[k][0]
        assert abs(r.sum_value - wmap[k][1]) < 1e-6
    # completeness: watermark = max(ts) - 1h; windows ending before it emit
    wm = ev["ts"].max() - pd.Timedelta(hours=1)
    must = {k for k in wmap if k[0] + pd.Timedelta(hours=1) < wm}
    have = {(r.win_start, r.event_type) for r in got.itertuples()}
    assert must <= have


def test_stream_sessionize_matches_batch(spark, events_dir, tmp_path):
    """Closed sessions from the stateful operator == batch gap-sessionization
    minus each user's final (still-open) session."""
    from searchengines_spark.streaming import stream_sessionize

    out, ckpt = str(tmp_path / "sout"), str(tmp_path / "sckpt")
    q = stream_sessionize(spark, events_dir, out, ckpt, gap_sec=1800.0)
    q.awaitTermination(180)

    files = glob.glob(out + "/*.parquet")
    got = (pd.concat(pd.read_parquet(f) for f in files)
           if files else pd.DataFrame(columns=["user_id", "start_sec", "end_sec", "n_events"]))

    ev = _events_pdf()
    want_rows = []
    for uid, g in ev.groupby("user_id"):
        secs = (g["ts"].sort_values().astype("datetime64[ns]")
                .astype("int64") / 1e9).tolist()
        start, last, n = None, None, 0
        sessions = []
        for s in secs:
            if start is None:
                start, last, n = s, s, 1
            elif s - last > 1800.0:
                sessions.append((uid, start, last, n))
                start, last, n = s, s, 1
            else:
                last, n = s, n + 1
        # final session stays open in the stream -> excluded
        want_rows.extend(sessions)
    want = sorted(want_rows)
    got_rows = sorted(
        (int(r.user_id), float(r.start_sec), float(r.end_sec), int(r.n_events))
        for r in got.itertuples())
    assert len(got_rows) == len(want)
    for g, w in zip(got_rows, want):
        assert g[0] == w[0] and g[3] == w[3]
        assert abs(g[1] - w[1]) < 1e-3 and abs(g[2] - w[2]) < 1e-3


def test_stream_dedup_exact_across_restarts(spark, tmp_path):
    """First-seen-wins streaming dedup: one emit per distinct content hash;
    a second drop (stream restart, same checkpoint) emits only NEW hashes —
    the state store survives the restart."""
    from searchengines_spark.streaming import stream_dedup_exact

    src = tmp_path / "docs_src"
    os.makedirs(src)
    out, ckpt = str(tmp_path / "dout"), str(tmp_path / "dckpt")

    texts1 = ["alpha one", "beta two", "alpha one", "gamma three", "beta two"]
    pd.DataFrame({
        "doc_id": range(5), "text": texts1, "lang": "en",
        "source": "s0", "n_chars": [len(t) for t in texts1],
    }).to_parquet(src / "drop1.parquet")
    q = stream_dedup_exact(spark, str(src), out, ckpt)
    q.awaitTermination(180)

    got1 = pd.concat(pd.read_parquet(f) for f in glob.glob(out + "/*.parquet"))
    # 3 distinct texts; within-batch winner is the min doc_id per hash
    assert sorted(got1["doc_id"]) == [0, 1, 3]

    texts2 = ["alpha one", "delta four", "gamma three", "delta four"]
    pd.DataFrame({
        "doc_id": range(10, 14), "text": texts2, "lang": "en",
        "source": "s1", "n_chars": [len(t) for t in texts2],
    }).to_parquet(src / "drop2.parquet")
    q = stream_dedup_exact(spark, str(src), out, ckpt)
    q.awaitTermination(180)

    got2 = pd.concat(pd.read_parquet(f) for f in glob.glob(out + "/*.parquet"))
    # only 'delta four' is new; dups of drop1 hashes are suppressed by state
    assert sorted(got2["doc_id"]) == [0, 1, 3, 11]
    assert got2["h"].nunique() == 4

