"""Seeded-random differential tests: Spark operators vs independent
pure-Python reference implementations on generated data.

The oracle SQL proves cross-engine agreement on the fixture corpus;
these prove agreement with a THIRD, loop-style implementation on
randomized inputs (seeded — failures reproduce), covering shapes the
fixtures may not contain (ties, bursts, empty groups, extreme values).
One Spark job per test: the whole random dataset goes through in a
single DataFrame, so hypothesis-style per-example jobs are avoided.
"""

from __future__ import annotations

import random

import pyspark.sql.functions as F
from manifest_sides import SIDES, on_sides

SEED = 20260813


def test_funnel_matches_python_simulation(spark):
    from parallel_map_reduce_spark.operators.funnel import funnel_first_completion

    rng = random.Random(SEED)
    types = ["view", "click", "purchase", "error", "signup"]
    rows = []
    for i in range(3000):
        user = rng.randint(1, 60)  # dense users → plenty of ties/bursts
        ts_us = rng.randint(0, 500) * 1_000_000  # coarse → many equal ts
        rows.append((i, user, ts_us, rng.choice(types)))

    # pure-Python reference: sort by (ts, step_rank) per user, run the
    # state machine
    rank = {"view": 0, "click": 1, "purchase": 2}
    by_user: dict[int, list[tuple[int, int]]] = {}
    for _eid, u, ts, et in rows:
        if et in rank:
            by_user.setdefault(u, []).append((ts, rank[et]))
    want = {}
    for u, evs in by_user.items():
        st = [None, None, None]
        for ts, rk in sorted(evs):
            if rk == 0 and st[0] is None:
                st[0] = ts
            elif rk == 1 and st[1] is None and st[0] is not None:
                st[1] = ts
            elif rk == 2 and st[2] is None and st[1] is not None:
                st[2] = ts
        if st[2] is not None:
            want[u] = tuple(st)

    df = spark.createDataFrame(
        [(e, u, ts, et) for e, u, ts, et in rows],
        "event_id LONG, user_id LONG, ts_us LONG, event_type STRING",
    ).withColumn("ts", F.timestamp_micros("ts_us"))
    got = {
        r.user_id: (r.view_ts_us, r.click_ts_us, r.purchase_ts_us)
        for r in funnel_first_completion(df).collect()
    }
    assert got == want


def test_morton_matches_python_interleave(spark):
    from parallel_map_reduce_spark.operators.layout import morton_code

    rng = random.Random(SEED)
    pairs = [(rng.randint(0, 65535), rng.randint(0, 65535)) for _ in range(500)]
    pairs += [(0, 0), (65535, 65535), (0, 65535), (65535, 0), (1, 2)]

    def py_morton(a: int, b: int) -> int:
        z = 0
        for i in range(16):
            z |= ((a >> i) & 1) << (2 * i)
            z |= ((b >> i) & 1) << (2 * i + 1)
        return z

    df = spark.createDataFrame(pairs, "a LONG, b LONG")
    got = {
        (r.a, r.b): r.z
        for r in df.withColumn("z", morton_code(F.col("a"), F.col("b"))).collect()
    }
    for a, b in pairs:
        assert got[(a, b)] == py_morton(a, b), (a, b)


def test_global_ntile_matches_python_on_random(spark):
    from parallel_map_reduce_spark.operators.ranking import global_ntile

    rng = random.Random(SEED)
    # heavy ties: values drawn from a tiny domain
    vals = [(i, rng.randint(0, 20)) for i in range(2000)]
    df = spark.createDataFrame(vals, "id LONG, v LONG")
    k = 7
    got = {r.id: r.t for r in global_ntile(df, ["v", "id"], k, out_col="t").collect()}

    order = sorted(vals, key=lambda x: (x[1], x[0]))
    n = len(order)
    q, r = divmod(n, k)
    want = {}
    pos = 0
    for tile in range(1, k + 1):
        size = q + (1 if tile <= r else 0)
        for _ in range(size):
            want[order[pos][0]] = tile
            pos += 1
    assert got == want


def _random_docs(rng, n_docs, vocab, min_len=0, max_len=40, phrases=None):
    """Random word documents; optional shared multi-word phrases injected
    to force cross-document duplicate windows."""
    docs = []
    for d in range(1, n_docs + 1):
        toks = [rng.choice(vocab) for _ in range(rng.randint(min_len, max_len))]
        if phrases and rng.random() < 0.5:
            ph = rng.choice(phrases)
            pos = rng.randint(0, len(toks))
            toks = toks[:pos] + ph + toks[pos:]
        docs.append((d, " ".join(toks)))
    return docs


def test_chunker_matches_python_loop(spark):
    """chunk_documents vs a plain-Python sliding-window loop on random
    docs (lengths straddling w, multiples of stride, empty docs), plus
    the reconstruction invariant: dropping each later chunk's overlap
    prefix and concatenating rebuilds the document."""
    from parallel_map_reduce_spark.operators.text_analysis import chunk_documents

    rng = random.Random(SEED + 1)
    vocab = ["alpha", "beta", "gamma", "delta", "eps", "zeta"]
    w, s = 6, 4
    docs = _random_docs(rng, 120, vocab, min_len=0, max_len=20)
    import math

    want = {}
    for d, text in docs:
        toks = text.split()
        if not toks:
            continue
        n_chunks = 1 + math.ceil(max(len(toks) - w, 0) / s)
        want[d] = [toks[k * s : k * s + w] for k in range(n_chunks)]
    got = {}
    out = chunk_documents(
        spark.createDataFrame(docs, ["doc_id", "text"]), w=w, stride=s
    ).collect()
    for r in out:
        got.setdefault(r.doc_id, {})[r.chunk_id] = r.chunk_text.split()
    for d, chunks in want.items():
        gc = [got[d][k] for k in sorted(got[d])]
        assert gc == chunks, (d, gc, chunks)
        rebuilt = list(gc[0]) if gc else []
        for later in gc[1:]:
            rebuilt.extend(later[w - s :])
        orig = docs[d - 1][1].split()
        assert rebuilt == orig, (d, rebuilt, orig)
    assert set(got) == set(want)


def test_passage_dedup_clean_matches_python_loop(spark):
    """passage_dedup_clean vs a Python reference on random docs with
    injected shared phrases (guaranteed cross-doc duplicate windows)."""
    from parallel_map_reduce_spark.operators.dedup import passage_dedup_clean

    rng = random.Random(SEED + 2)
    vocab = ["ada", "bee", "cat", "doe", "elk", "fox", "gnu", "hen"]
    w = 4
    phrases = [["dup"] * w, ["rep", "rep", "rep", "rep"]]
    docs = _random_docs(rng, 80, vocab, min_len=0, max_len=18, phrases=phrases)

    windows = {}
    for d, text in docs:
        toks = text.split()
        windows[d] = [
            toks[i * w : (i + 1) * w] for i in range(len(toks) // w)
        ]
    from collections import defaultdict

    seen_in = defaultdict(set)
    for d, ws_ in windows.items():
        for ch in ws_:
            seen_in[" ".join(ch)].add(d)
    want = {}
    for d, text in docs:
        toks = text.split()
        kept = [ch for ch in windows[d] if len(seen_in[" ".join(ch)]) == 1]
        tail = toks[(len(toks) // w) * w :]
        clean = " ".join([t for ch in kept for t in ch] + tail)
        want[d] = (clean, len(kept), len(windows[d]) - len(kept))
    out = passage_dedup_clean(
        spark.createDataFrame(docs, ["doc_id", "text"]), w=w
    ).collect()
    got = {r.doc_id: (r.clean_text, r.n_kept, r.n_removed) for r in out}
    assert got == want


def test_vocab_growth_matches_python_loop(spark):
    """vocab_growth vs a Python running-set loop on random docs
    (including empty docs and repeated words)."""
    from parallel_map_reduce_spark.operators.text_analysis import vocab_growth

    rng = random.Random(SEED + 3)
    vocab = [f"w{chr(97 + i)}" for i in range(12)]
    docs = _random_docs(rng, 100, vocab, min_len=0, max_len=15)
    seen = set()
    cum_tok = 0
    want = {}
    for d, text in docs:
        toks = text.split()
        cum_tok += len(toks)
        seen.update(toks)
        want[d] = (cum_tok, len(seen))
    out = vocab_growth(spark.createDataFrame(docs, ["doc_id", "text"])).collect()
    got = {r.doc_id: (r.cum_tokens, r.vocab_size) for r in out}
    assert got == want


def test_scd2_runs_match_python_simulation(spark):
    """orders_status_scd2's gaps-and-islands logic vs a loop-style run
    builder on random dense data (many same-day ties, single-order runs,
    customers with one order)."""
    rng = random.Random(SEED + 1)
    rows = []
    for ok in range(4000):
        cust = rng.randint(1, 80)
        day = rng.randint(1, 60)  # coarse → same-day ties, orderkey breaks
        status = rng.choice(["O", "F", "P"])
        rows.append((ok, cust, f"2024-01-{1:02d}", day, status))
    df = spark.createDataFrame(
        [(ok, c, f"2024-{(d - 1) // 28 + 1:02d}-{(d - 1) % 28 + 1:02d}", s)
         for ok, c, _, d, s in rows],
        "o_orderkey BIGINT, o_custkey BIGINT, od STRING, o_orderstatus STRING",
    ).select(
        "o_orderkey", "o_custkey",
        F.to_date("od").alias("od"), "o_orderstatus",
    )

    # python reference: per customer sort by (date, orderkey), collapse runs
    per_cust: dict[int, list[tuple[str, int, str]]] = {}
    for ok, c, _, d, s in rows:
        date = f"2024-{(d - 1) // 28 + 1:02d}-{(d - 1) % 28 + 1:02d}"
        per_cust.setdefault(c, []).append((date, ok, s))
    want = set()
    for c, evs in per_cust.items():
        evs.sort()
        runs = []  # (status, first_date, count)
        for date, _ok, s in evs:
            if runs and runs[-1][0] == s:
                runs[-1][2] += 1
            else:
                runs.append([s, date, 1])
        for i, (s, vf, n) in enumerate(runs):
            vt = runs[i + 1][1] if i + 1 < len(runs) else None
            want.add((c, i + 1, s, vf, vt, n))

    # the registered query logic, applied to the synthetic frame
    from pyspark.sql import Window

    w = Window.partitionBy("o_custkey").orderBy("od", "o_orderkey")
    chg = F.when(
        F.lag("o_orderstatus").over(w).eqNullSafe(F.col("o_orderstatus")), 0
    ).otherwise(1)
    runs_df = df.withColumn("chg", chg).withColumn("run_id", F.sum("chg").over(w))
    seg = runs_df.groupBy("o_custkey", "run_id", "o_orderstatus").agg(
        F.min("od").alias("vf"), F.count("*").cast("bigint").alias("n_orders")
    )
    w2 = Window.partitionBy("o_custkey").orderBy("run_id")
    got = {
        (r.c, r.seq, r.status, r.vf, r.vt, r.n)
        for r in seg.select(
            F.col("o_custkey").alias("c"),
            F.col("run_id").cast("bigint").alias("seq"),
            F.col("o_orderstatus").alias("status"),
            F.col("vf").cast("string").alias("vf"),
            F.lead("vf").over(w2).cast("string").alias("vt"),
            F.col("n_orders").alias("n"),
        ).collect()
    }
    assert got == want


def test_rolling_exact_window_matches_python_simulation(spark):
    """events_rolling_7d_users_exact's explode decomposition vs a brute
    per-day set union on random sparse activity (gaps between days,
    users active on many days)."""
    rng = random.Random(SEED + 2)
    rows = []
    for _ in range(2500):
        user = rng.randint(1, 50)
        day = rng.randint(1, 45)
        if rng.random() < 0.35:
            continue  # day gaps
        rows.append((user, day))
    df = spark.createDataFrame(
        [(u, f"2024-{(d - 1) // 28 + 1:02d}-{(d - 1) % 28 + 1:02d}") for u, d in rows],
        "user_id BIGINT, day_s STRING",
    ).select("user_id", F.to_date("day_s").alias("day"))

    # python reference: for each observed day, distinct users over [d-6, d]
    from datetime import date as _date

    pairs = {( u, _date(2024, (d - 1) // 28 + 1, (d - 1) % 28 + 1)) for u, d in rows}
    days = sorted({d for _, d in pairs})
    want = {}
    for d in days:
        users = {u for u, dd in pairs if 0 <= (d - dd).days <= 6}
        want[str(d)] = len(users)

    pairs_df = df.distinct()
    days_df = pairs_df.select("day").distinct().withColumnRenamed("day", "wday")
    contrib = pairs_df.select(
        "user_id",
        F.explode(F.sequence(F.col("day"), F.date_add(F.col("day"), 6))).alias("wday"),
    ).distinct()
    got = {
        r.day: r.n
        for r in contrib.join(F.broadcast(days_df), "wday")
        .groupBy("wday")
        .agg(F.count("*").cast("bigint").alias("n"))
        .select(F.col("wday").cast("string").alias("day"), "n")
        .collect()
    }
    assert got == want


def test_weighted_sample_matches_pure_python(spark):
    """Efraimidis-Spirakis race vs an independent pure-Python replica
    (hashlib md5 + math.log) on a random corpus: same winners, same
    ranks. Also pins per-group size = min(k, |group|)."""
    import hashlib
    import math
    import random

    from parallel_map_reduce_spark.operators import curation as C

    rng = random.Random(20260814)
    rows = [
        (i, rng.choice(["aa", "bb", "cc"]), rng.randint(1, 5000))
        for i in range(1, 301)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "lang", "n_chars"])
    k = 7
    got = [
        (r.lang, r.doc_id, r.sample_rank)
        for r in C.weighted_sample(df, k=k).collect()
    ]

    def key(doc_id, w):
        hv = int(
            hashlib.md5(f"{C.WSAMPLE_SALT}{doc_id}".encode()).hexdigest()[:8], 16
        )
        u = (hv + 0.5) / 2**32
        return -math.log(u) / w

    want = []
    for lang in ("aa", "bb", "cc"):
        grp = sorted(
            (r for r in rows if r[1] == lang),
            key=lambda r: (key(r[0], r[2]), r[0]),
        )[:k]
        want += [(lang, r[0], i + 1) for i, r in enumerate(grp)]
    assert sorted(got) == sorted(want)
    for lang in ("aa", "bb", "cc"):
        n_grp = sum(1 for r in rows if r[1] == lang)
        assert sum(1 for g in got if g[0] == lang) == min(k, n_grp)


def test_cdc_merge_matches_python_replay(spark):
    """Randomized change feeds (multi-generation updates, deletes,
    re-inserts after delete, brand-new keys) vs a dict-based replay."""
    from parallel_map_reduce_spark.operators.cdc import merge_changes

    rng = random.Random(SEED + 1)
    snap_rows = [(k, f"v{k}") for k in range(200)]
    feed_rows = []
    seq_per_key: dict[int, int] = {}
    for _ in range(600):
        k = rng.randint(0, 260)  # keys beyond 199 are pure inserts
        seq_per_key[k] = seq_per_key.get(k, 0) + 1  # unique seq per key
        op = rng.choice(["U", "U", "U", "D", "I"])
        feed_rows.append((k, seq_per_key[k], op, f"p{k}s{seq_per_key[k]}"))

    # replay: latest seq wins per key, snapshot is generation -1
    state = {k: ("K", v) for k, v in snap_rows}
    last = {k: -1 for k, _ in snap_rows}
    for k, seq, op, v in feed_rows:
        if seq > last.get(k, -2):
            last[k] = seq
            state[k] = (op, v)
    want = {
        k: (v, op) for k, (op, v) in state.items() if op != "D"
    }

    snap = spark.createDataFrame(snap_rows, "k INT, v STRING")
    feed = spark.createDataFrame(feed_rows, "k INT, seq INT, op STRING, v STRING")
    got = {
        r["k"]: (r["v"], r["op"])
        for r in merge_changes(snap, feed, ["k"]).collect()
    }
    assert got == want


def test_repeated_substring_spans_match_python_replica(spark):
    """Span detector vs a loop-style replica on a randomized small-vocab
    corpus (tiny vocabulary → dense gram collisions → many overlapping,
    adjacent and singleton islands; plus empty and shorter-than-L
    docs). Covers the round-9 window-count rewrite on shapes the
    planted fixture doesn't contain: multi-span docs, islands touching
    end-of-doc, adjacent-but-not-overlapping windows (pos ==
    prev_end + 1 must MERGE, per the gaps-and-islands contract)."""
    from parallel_map_reduce_spark.operators.dedup import repeated_substring_spans

    L, MIN_OCC = 3, 2
    rng = random.Random(SEED + 7)
    vocab = ["aa", "bb", "cc", "dd", "ee", "ff"]
    docs = []
    for doc_id in range(1, 61):
        n = rng.choice([0, 1, L - 1, L] + [rng.randint(L, 40)] * 4)
        docs.append((doc_id, " ".join(rng.choice(vocab) for _ in range(n))))

    # pure-Python replica (gram strings instead of md5 — equal iff the
    # hashes are, at test sizes)
    grams: dict[str, list[tuple[int, int]]] = {}
    for doc_id, text in docs:
        toks = text.split()
        for i in range(len(toks) - L + 1):
            grams.setdefault(" ".join(toks[i : i + L]), []).append((doc_id, i + 1))
    hits: dict[int, list[int]] = {}
    for positions in grams.values():
        if len(positions) >= MIN_OCC:
            for doc_id, pos in positions:
                hits.setdefault(doc_id, []).append(pos)
    want = set()
    for doc_id, poss in hits.items():
        poss.sort()
        start, prev_end, n_win = None, None, 0
        for p in poss:  # ascending -> p + L - 1 is nondecreasing
            if start is None or p > prev_end + 1:
                if start is not None:
                    want.add((doc_id, start, prev_end, n_win))
                start, n_win = p, 0
            prev_end = p + L - 1
            n_win += 1
        if start is not None:
            want.add((doc_id, start, prev_end, n_win))

    df = spark.createDataFrame(docs, "doc_id BIGINT, text STRING")
    got = {
        (r.doc_id, r.span_start, r.span_end, r.n_windows)
        for r in repeated_substring_spans(df, L=L, min_occ=MIN_OCC).collect()
    }
    assert got == want and len(want) > 10


@on_sides(*SIDES)
def test_manifest_reader_matches_python_reference(spark, tmp_path):
    """Seeded-random manifest corpora vs a trivial Python reference:
    random filenames drawn from a pool including URI-encoding hazards
    (spaces, '%', '+', non-ASCII, quotes), random duplicate manifest
    entries, random sizes — the reader must return EXACTLY one row per
    manifest entry with 1-based ids in manifest order, regardless of
    scan mode, id-map branch, or duplicate replication (the r10 n^2
    class)."""
    import os
    import random

    from parallel_map_reduce_spark.sources.text_manifest import (
        read_manifest_documents,
    )

    rng = random.Random(20260815)
    name_pool = []
    stems = ["plain", "with space", "pct%20lit", "plus+s", "naïve", "it's q"]
    for i in range(40):
        name_pool.append(f"{rng.choice(stems)}_{i}.txt")
    bodies = {}
    for n in name_pool:
        bodies[n] = "w" + " ".join(
            rng.choice(["alpha", "beta", "gamma", "delta"])
            for _ in range(rng.randint(1, 30))
        )
        (tmp_path / n).write_text(bodies[n])
    # manifest: 60 entries, ~1/3 duplicates
    entries = [rng.choice(name_pool) for _ in range(60)]
    man = tmp_path / "manifest.txt"
    man.write_text(
        f"{len(entries)}\n" + "".join(str(tmp_path / e) + "\n" for e in entries)
    )
    want = [(i + 1, bodies[e]) for i, e in enumerate(entries)]
    got = sorted(
        map(tuple, read_manifest_documents(spark, str(man)).collect())
    )
    assert got == sorted(want)
