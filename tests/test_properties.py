"""Property-based tests (hypothesis): the distributed implementations
must agree with straight-line Python reference implementations on
arbitrary inputs — the automated layer the reference never had
(SURVEY §5)."""

from __future__ import annotations

import datetime as dt

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

# keep example counts small: each example runs Spark jobs
_SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _greedy_reference(events, window_s=300):
    """Straight-line greedy walk: blocked iff STRICTLY within the window
    of the last APPLIED event of the same hash (FN_IS_LOOP boundary:
    a gap of exactly the window is applied)."""
    out = {}
    last_applied: dict[str, float] = {}
    for seq, ts, h in sorted(events, key=lambda e: (e[1], e[0])):
        last = last_applied.get(h)
        if last is not None and (ts - last).total_seconds() < window_s:
            out[seq] = True
        else:
            out[seq] = False
            last_applied[h] = ts
    return out


@pytest.mark.slow
@given(
    gaps=st.lists(st.integers(min_value=0, max_value=900), min_size=1, max_size=12),
    hashes=st.lists(st.sampled_from(["h1", "h2"]), min_size=1, max_size=12),
)
@settings(**_SETTINGS)
def test_loopguard_matches_reference(spark, gaps, hashes):
    from cdc_sync_poc_spark.functions.loopguard import with_loop_blocked

    n = min(len(gaps), len(hashes))
    t = dt.datetime(2024, 1, 1)
    rows = []
    for i in range(n):
        t = t + dt.timedelta(seconds=gaps[i])
        rows.append((i, t, hashes[i]))
    df = spark.createDataFrame(rows, ["cdc_seq", "ts", "change_hash"])
    got = {r.cdc_seq: r.loop_blocked for r in with_loop_blocked(df).collect()}
    assert got == _greedy_reference(rows)


def _greedy_reference_validity(events, window_s=300):
    """Greedy walk WITH stage-1 validity: invalid events can be blocked
    but never refresh the window (SP_RECORD_HASH skipped on failure)."""
    out = {}
    last_applied: dict[str, float] = {}
    for seq, ts, h, invalid in sorted(events, key=lambda e: (e[1], e[0])):
        last = last_applied.get(h)
        if last is not None and (ts - last).total_seconds() < window_s:
            out[seq] = True
        else:
            out[seq] = False
            if not invalid:
                last_applied[h] = ts
    return out


@pytest.mark.slow
@given(
    gaps=st.lists(st.integers(min_value=0, max_value=900), min_size=1, max_size=12),
    hashes=st.lists(st.sampled_from(["h1", "h2"]), min_size=1, max_size=12),
    invalid=st.lists(st.booleans(), min_size=1, max_size=12),
)
@settings(**_SETTINGS)
def test_loopguard_validity_matches_reference(spark, gaps, hashes, invalid):
    """Random mixes of multiplicity (1, 2, 3+) per hash AND stage-1
    validity run through the one keyed fold against the sequential
    reference, including the pair case where an INVALID first event
    must not block the second."""
    from cdc_sync_poc_spark.functions.loopguard import with_loop_blocked

    n = min(len(gaps), len(hashes), len(invalid))
    t = dt.datetime(2024, 1, 1)
    rows = []
    for i in range(n):
        t = t + dt.timedelta(seconds=gaps[i])
        # prop_k > 95 marks the event stage-1 invalid; val kept sane
        rows.append((i, t, hashes[i], 99 if invalid[i] else 10, 1.0))
    df = spark.createDataFrame(
        rows, ["cdc_seq", "ts", "change_hash", "prop_k", "val"]
    )
    got = {r.cdc_seq: r.loop_blocked for r in with_loop_blocked(df).collect()}
    want = _greedy_reference_validity(
        [(s, ts, h, inv > 95) for s, ts, h, inv, _ in rows]
    )
    assert got == want


def _merge_reference(base, changes):
    """Single-shot MERGE of last-change-per-key against base."""
    last = {}
    for seq, pk, op, val in changes:
        if pk not in last or seq > last[pk][0]:
            last[pk] = (seq, op, val)
    out = dict(base)
    for pk, (_seq, op, val) in last.items():
        if op == "DELETE":
            out.pop(pk, None)
        elif op == "UPDATE":
            if pk in out:
                out[pk] = val
        else:  # INSERT (creates or updates)
            out[pk] = val
    return out


@pytest.mark.slow
@given(
    ops=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=9),  # pk
            st.sampled_from(["INSERT", "UPDATE", "DELETE"]),
            st.integers(min_value=0, max_value=99),  # val
        ),
        min_size=1,
        max_size=15,
    ),
    base_keys=st.sets(st.integers(min_value=0, max_value=9), max_size=6),
)
@settings(**_SETTINGS)
def test_merge_final_state_matches_reference(spark, ops, base_keys):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from cdc_sync_poc_spark.operators.apply import merge_final_state

    base_rows = [(pk, f"name{pk}", float(pk)) for pk in sorted(base_keys)]
    changes = [(i, pk, op, float(v)) for i, (pk, op, v) in enumerate(ops)]

    base = spark.createDataFrame(
        base_rows or [(999_999, "sentinel", 0.0)],
        ["c_custkey", "c_name", "c_acctbal"],
    )
    cdf = spark.createDataFrame(changes, ["cdc_seq", "pk", "operation", "val"])
    w = Window.partitionBy("pk").orderBy(F.desc("cdc_seq"))
    last = (
        cdf.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    )
    got = {r.pk: r.acctbal for r in merge_final_state(base, last).collect()}

    ref_base = {pk: float(pk) for pk in base_keys} or {999_999: 0.0}
    want = _merge_reference(ref_base, changes)
    assert got == want

def _boilerplate_reference(texts, seg_words=8, min_docs=3):
    """Straight-line reference for dedup_segment_boilerplate: fixed-width
    non-overlapping segments, boilerplate = segment in >= min_docs
    distinct docs, per-doc instance counts."""
    segs = {
        doc_id: [
            " ".join(ws[i * seg_words : (i + 1) * seg_words])
            for i in range(len(ws) // seg_words)
        ]
        for doc_id, ws in texts.items()
        if len(ws) >= seg_words
    }
    docs_per_seg: dict[str, set] = {}
    for doc_id, ss in segs.items():
        for s in ss:
            docs_per_seg.setdefault(s, set()).add(doc_id)
    boiler = {s for s, d in docs_per_seg.items() if len(d) >= min_docs}
    return {
        doc_id: (
            len(ss),
            sum(1 for s in ss if s in boiler),
        )
        for doc_id, ss in segs.items()
    }


@pytest.mark.slow
@given(
    lengths=st.lists(st.integers(min_value=0, max_value=30), min_size=1, max_size=10),
    words=st.lists(st.sampled_from(["a", "b"]), min_size=30, max_size=60),
)
@settings(**_SETTINGS)
def test_segment_boilerplate_matches_reference(spark, lengths, words):
    """Arbitrary tiny corpora over a 2-word alphabet (maximal segment
    collisions): the distributed explode/agg/join pipeline must agree
    with the straight-line reference, including docs shorter than one
    segment (excluded) and repeated segments within one document
    (instances counted, not deduped)."""
    from cdc_sync_poc_spark.llm.segment_stats import segment_boilerplate_frame

    texts = {}
    pos = 0
    for i, ln in enumerate(lengths):
        texts[i] = [words[(pos + j) % len(words)] for j in range(ln)]
        pos += ln
    docs = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in texts.items()], "doc_id long, text string"
    )
    got = {
        r.doc_id: (r.n_seg, r.n_boiler)
        for r in segment_boilerplate_frame(docs).collect()
    }
    assert got == _boilerplate_reference(texts)


def _gini_reference(texts_by_source):
    """Straight-line Gini over term frequencies per source: counts
    sorted ascending, numerator sum((2*rank - n - 1) * c), denominator
    n * total — one float division at the end."""
    out = {}
    for src, texts in texts_by_source.items():
        counts: dict[str, int] = {}
        for t in texts:
            for w in t.split(" "):
                counts[w] = counts.get(w, 0) + 1
        ordered = sorted(counts.items(), key=lambda kv: (kv[1], kv[0]))
        n = len(ordered)
        total = sum(c for _, c in ordered)
        num = sum((2 * (i + 1) - n - 1) * c for i, (_, c) in enumerate(ordered))
        out[src] = (n, total, num / (n * total))
    return out


@given(
    words=st.lists(
        st.sampled_from(["x", "y", "z", "w"]), min_size=4, max_size=40
    ),
    splits=st.lists(st.integers(min_value=1, max_value=6), min_size=2, max_size=5),
)
@settings(**_SETTINGS)
def test_gini_concentration_matches_reference(spark, words, splits):
    """Arbitrary tiny corpora over a 4-word alphabet: the distributed
    term-count + rank-window + rollup pipeline must agree with the
    straight-line Gini, including single-term sources (gini = 0) and
    heavy ties in the rank ordering."""
    from cdc_sync_poc_spark.llm.segment_stats import gini_concentration_frame

    texts_by_source: dict[str, list[str]] = {}
    pos = 0
    for i, ln in enumerate(splits):
        chunk = words[pos : pos + ln] or [words[pos % len(words)]]
        texts_by_source.setdefault(f"s{i % 2}", []).append(" ".join(chunk))
        pos = (pos + ln) % max(1, len(words) - 6)
    docs = spark.createDataFrame(
        [(src, t) for src, ts in texts_by_source.items() for t in ts],
        "source string, text string",
    )
    got = {
        r.source: (r.n_terms, r.total_tokens, r.gini)
        for r in gini_concentration_frame(docs).collect()
    }
    ref = _gini_reference(texts_by_source)
    assert set(got) == set(ref)
    for src in ref:
        assert got[src][:2] == ref[src][:2], src
        assert got[src][2] == ref[src][2], (src, got[src][2], ref[src][2])


def _packing_reference(docs, budget=512):
    """Straight-line packing: per lang, walk docs in doc_id order with a
    running token offset; bin/offset from the prefix sum."""
    out = {}
    by_lang: dict[str, list] = {}
    for doc_id, lang, n in docs:
        by_lang.setdefault(lang, []).append((doc_id, n))
    for lang, rows in by_lang.items():
        prev = 0
        for doc_id, n in sorted(rows):
            out[doc_id] = (n, prev // budget, prev % budget)
            prev += n
    return out


@given(
    ids=st.lists(
        st.integers(min_value=0, max_value=300), min_size=1, max_size=14, unique=True
    ),
    sizes=st.lists(st.integers(min_value=1, max_value=400), min_size=14, max_size=14),
    langs=st.lists(st.sampled_from(["en", "de"]), min_size=14, max_size=14),
)
@settings(**_SETTINGS)
def test_seq_packing_matches_reference(spark, ids, sizes, langs):
    """Sparse doc_ids spanning several PACK_CHUNK_DOCS chunks: the
    two-level prefix sum (local cumsum + carry-in) must equal the flat
    per-language running sum at every chunk boundary."""
    from cdc_sync_poc_spark.llm.preprocess import seq_packing_frame

    docs = [
        (doc_id, langs[i], sizes[i]) for i, doc_id in enumerate(sorted(ids))
    ]
    df = spark.createDataFrame(
        [(d, lang, " ".join(["w"] * n)) for d, lang, n in docs],
        "doc_id long, lang string, text string",
    )
    got = {
        r.doc_id: (r.n_tokens, r.bin_id, r.bin_offset)
        for r in seq_packing_frame(df).collect()
    }
    assert got == _packing_reference(docs)


def _funnel_reference(rows):
    """Straight-line funnel verdict: first failing gate wins
    (length -> Gopher repetition -> stopword density)."""
    out = {}
    for doc_id, lang, text in rows:
        words = text.split(" ")
        n = len(words)
        if n < 20:
            out[doc_id] = "too_short"
            continue
        bgs = [f"{words[i]} {words[i + 1]}" for i in range(n - 1)]
        tgs = [
            f"{words[i]} {words[i + 1]} {words[i + 2]}" for i in range(n - 2)
        ]
        top_bg = max(bgs.count(x) for x in set(bgs)) / (n - 1)
        dup_tg = 1.0 - len(set(tgs)) / (n - 2)
        if top_bg >= 0.05 or dup_tg >= 0.02:
            out[doc_id] = "repetition"
            continue
        stop = sum(1 for w in words if w in ("the", "a", "of", "and")) / n
        out[doc_id] = "low_stopword" if stop < 0.02 else "kept"
    return out


@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["the", "a", "of", "x", "y", "z", "q", "w"]),
            min_size=1,
            max_size=40,
        ),
        min_size=1,
        max_size=8,
    ),
)
@settings(**_SETTINGS)
def test_funnel_matches_reference(spark, docs):
    from cdc_sync_poc_spark.llm.curation import funnel_verdict_frame

    rows = [(i, "en", " ".join(ws)) for i, ws in enumerate(docs)]
    df = spark.createDataFrame(rows, ["doc_id", "lang", "text"])
    got = {
        r.doc_id: r.reason for r in funnel_verdict_frame(df).collect()
    }
    assert got == _funnel_reference(rows)


def _lm_reference(rows):
    """Straight-line bigram LM with add-one smoothing and the LM_FIX
    fixed-point floor — per-doc (n_bigrams, mean_p, decile)."""
    from cdc_sync_poc_spark.llm.lm_quality import LM_FIX

    vocab = set()
    for _, text in rows:
        vocab.update(text.split(" "))
    v = len(vocab)
    cab: dict[tuple, int] = {}
    ca: dict[str, int] = {}
    per_doc: dict[int, dict] = {}
    for doc_id, text in rows:
        ws = text.split(" ")
        if len(ws) < 2:
            continue
        k: dict[tuple, int] = {}
        for a, b in zip(ws, ws[1:]):
            cab[(a, b)] = cab.get((a, b), 0) + 1
            ca[a] = ca.get(a, 0) + 1
            k[(a, b)] = k.get((a, b), 0) + 1
        per_doc[doc_id] = k
    out = {}
    for doc_id, k in per_doc.items():
        sq = sum(
            int((cab[p] + 1) / (ca[p[0]] + v) * LM_FIX) * cnt
            for p, cnt in k.items()
        )
        n = sum(k.values())
        out[doc_id] = (n, round(sq / n / LM_FIX, 9))
    return out


@pytest.mark.slow
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["r", "s", "t", "u"]), min_size=1, max_size=12
        ),
        min_size=1,
        max_size=6,
    ),
)
@settings(**_SETTINGS)
def test_lm_score_matches_reference(spark, docs):
    from cdc_sync_poc_spark.llm.lm_quality import lm_score_frame

    rows = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r.doc_id: (r.n_bigrams, r.mean_p)
        for r in lm_score_frame(df).collect()
    }
    assert got == _lm_reference(rows)


def _attribution_reference(rows):
    """Straight-line last-touch attribution: per purchase, credit the
    closest preceding non-purchase event of the same user; revenue in
    exact cents."""
    from collections import defaultdict

    by_user = defaultdict(list)
    for event_id, user_id, ts, etype, value in rows:
        by_user[user_id].append((ts, event_id, etype, value))
    out = defaultdict(lambda: [0, 0])
    for evs in by_user.values():
        evs.sort()
        touch = None
        for _ts, _eid, etype, value in evs:
            if etype == "purchase":
                if touch is not None:
                    out[touch][0] += 1
                    out[touch][1] += round(value * 100)
            else:
                touch = etype
    return {
        t: (n, round(cents / 100.0, 2)) for t, (n, cents) in out.items()
    }


@given(
    events=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),  # user
            st.sampled_from(["view", "click", "purchase"]),
            st.integers(min_value=0, max_value=10_000),  # cents
        ),
        min_size=1,
        max_size=24,
    ),
)
@settings(**_SETTINGS)
def test_attribution_matches_reference(spark, events):
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows = [
        (i, user, base + dt.timedelta(seconds=i), etype, cents / 100.0)
        for i, (user, etype, cents) in enumerate(events)
    ]
    df = spark.createDataFrame(
        rows, ["event_id", "user_id", "ts", "event_type", "value"]
    )
    # drive the registered operator's window logic directly over the
    # synthetic frame (same expressions, no parquet fixture)
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.last(
        F.when(F.col("event_type") != "purchase", F.col("event_type")),
        ignorenulls=True,
    ).over(w)
    got = {
        r.touch_type: (r.n_purchases, r.revenue)
        for r in (
            df.select("event_type", "value", touch.alias("touch_type"))
            .filter(
                (F.col("event_type") == "purchase")
                & F.col("touch_type").isNotNull()
            )
            .groupBy("touch_type")
            .agg(
                F.count("*").alias("n_purchases"),
                F.round(
                    F.sum(F.round(F.col("value") * 100).cast("bigint"))
                    / F.lit(100.0),
                    2,
                ).alias("revenue"),
            )
            .collect()
        )
    }
    assert got == _attribution_reference(rows)


def _replay_ops(ops, exists, val):
    """Straight-line tolerant apply: INSERT upserts (ap02), UPDATE on a
    missing key is a no-op (ap03), DELETE is idempotent (ap04)."""
    for _, op, v in sorted(ops):
        if op == "INSERT":
            exists, val = True, v
        elif op == "UPDATE":
            if exists:
                val = v
        else:
            exists, val = False, None
    return exists, (val if exists else None)


@given(
    ops=st.lists(
        st.tuples(
            st.sampled_from([1, 2, 3]),  # pk
            st.sampled_from(["INSERT", "UPDATE", "DELETE"]),
            st.integers(min_value=0, max_value=9),  # val as small exact double
        ),
        min_size=1,
        max_size=12,
    ),
)
@settings(**_SETTINGS)
def test_net_effect_compaction_replay_equivalent(spark, ops):
    """Applying the single net op must land every key in the same final
    state as replaying its full op sequence — for BOTH pre-batch
    states (key absent / key present), which is the guarantee that
    lets compaction run without consulting the target."""
    from cdc_sync_poc_spark.operators.apply import net_effect

    rows = [
        (pk, seq, op, float(v)) for seq, (pk, op, v) in enumerate(ops)
    ]
    cdc = spark.createDataFrame(rows, "pk long, cdc_seq long, operation string, val double")
    net = {r.pk: (r.net_op, r.net_val) for r in net_effect(cdc).collect()}

    per_key: dict[int, list] = {}
    for pk, seq, op, v in rows:
        per_key.setdefault(pk, []).append((seq, op, v))
    assert set(net) == set(per_key)
    for pk, key_ops in per_key.items():
        net_op, net_val = net[pk]
        for exists0, val0 in ((False, None), (True, 123.0)):
            want = _replay_ops(key_ops, exists0, val0)
            if net_op == "UPDATE":
                got = (exists0, net_val if exists0 else val0)
                got = (got[0], got[1] if got[0] else None)
            elif net_op == "DELETE":
                got = (False, None)
            else:  # UPSERT
                got = (True, net_val)
            assert got == want, (pk, key_ops, net_op, net_val, exists0, want, got)


@given(
    texts=st.lists(
        st.text(alphabet="ab", min_size=2, max_size=6), min_size=1, max_size=12
    ),
)
@settings(max_examples=30, deadline=None)
def test_prefix_containment_sort_adjacency_lemma(texts):
    """The core of dedup_prefix_containment, engine-free: a string is a
    prefix of SOME other (text, id)-greater string iff it is a prefix
    of its immediate successor in (text, id) order within its opening
    bucket (width 2 here; every string is at least bucket-width long,
    mirroring the operator's fixture invariant)."""
    docs = list(enumerate(texts))
    brute = {
        i
        for i, t in docs
        if any(
            u.startswith(t) and (u, j) > (t, i)
            for j, u in docs
            if j != i
        )
    }
    by_bucket: dict[str, list] = {}
    for i, t in docs:
        by_bucket.setdefault(t[:2], []).append((t, i))
    adjacent = set()
    for bucket in by_bucket.values():
        bucket.sort()
        for (t, i), (u, _j) in zip(bucket, bucket[1:]):
            if u.startswith(t):
                adjacent.add(i)
    assert adjacent == brute


@given(
    ops=st.lists(
        st.tuples(
            st.sampled_from(["INSERT", "UPDATE", "DELETE"]),
            st.integers(min_value=0, max_value=9),
        ),
        min_size=1,
        max_size=10,
    ),
    cut=st.integers(min_value=0, max_value=10),
)
@settings(**_SETTINGS)
def test_net_effect_composes_across_batches(spark, ops, cut):
    """Micro-batch composition law: compacting batch 1 and batch 2
    separately and applying the two net ops in order must equal the
    full replay — the property that lets a foreachBatch writer compact
    every batch without cross-batch state."""
    from cdc_sync_poc_spark.operators.apply import net_effect

    cut = min(cut, len(ops))
    batches = [ops[:cut], ops[cut:]]
    exists, val = False, None
    seq = 0
    for batch in batches:
        if not batch:
            continue
        rows = []
        for op, v in batch:
            rows.append((1, seq, op, float(v)))
            seq += 1
        cdc = spark.createDataFrame(
            rows, "pk long, cdc_seq long, operation string, val double"
        )
        r = net_effect(cdc).collect()[0]
        if r.net_op == "DELETE":
            exists, val = False, None
        elif r.net_op == "UPSERT":
            exists, val = True, r.net_val
        elif exists:
            val = r.net_val
    want = _replay_ops(
        [(i, op, float(v)) for i, (op, v) in enumerate(ops)], False, None
    )
    got = (exists, val if exists else None)
    assert got == want, (ops, cut, got, want)


def _winnow_py(words, k=3, w=4):
    """Straight-line winnowing: hash word k-grams (md5 first 8 hex, the
    engine convention), keep each w-window's min."""
    import hashlib

    if len(words) < k + w - 1:
        return set()
    hs = [
        int(hashlib.md5(" ".join(words[i : i + k]).encode()).hexdigest()[:8], 16)
        for i in range(len(words) - k + 1)
    ]
    return {min(hs[i : i + w]) for i in range(len(hs) - w + 1)}


@given(
    a=st.lists(st.sampled_from("abcd"), min_size=6, max_size=20),
    b=st.lists(st.sampled_from("abcd"), min_size=6, max_size=20),
    run=st.lists(st.sampled_from("abcd"), min_size=6, max_size=8),
    pos_a=st.integers(min_value=0, max_value=20),
    pos_b=st.integers(min_value=0, max_value=20),
)
@settings(max_examples=40, deadline=None)
def test_winnowing_shared_run_guarantee(a, b, run, pos_a, pos_b):
    """The winnowing theorem behind text_winnowing_overlap /
    dedup_winnowing_pairs, engine-free: any two documents sharing a
    contiguous run of at least K+W-1 (=6) words ALWAYS share at least
    one selected fingerprint — the no-false-negative guarantee that
    makes the shared_ratio a lower-bound detector, not a heuristic."""
    da = a[: pos_a % (len(a) + 1)] + run + a[pos_a % (len(a) + 1) :]
    db = b[: pos_b % (len(b) + 1)] + run + b[pos_b % (len(b) + 1) :]
    fa, fb = _winnow_py(da), _winnow_py(db)
    assert fa & fb, (da, db)


@given(
    ids=st.sets(st.integers(min_value=0, max_value=10_000), min_size=1, max_size=60),
    extra=st.sets(st.integers(min_value=10_001, max_value=20_000), max_size=20),
    n=st.integers(min_value=1, max_value=10),
)
@settings(max_examples=50, deadline=None)
def test_fixed_n_sample_is_bottom_k_stable(ids, extra, n):
    """sample_fixed_n's stability claim, engine-free: growing the
    corpus can only DISPLACE members of the hash-ranked sample (by
    new docs that hash lower), never reshuffle the survivors' relative
    order, and the sample after growth is exactly the bottom-n of the
    union — the property that makes the sample reproducible across
    incremental ingests."""
    import hashlib

    def bottom_n(universe):
        return sorted(universe, key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i))[:n]

    before = bottom_n(ids)
    after = bottom_n(ids | extra)
    # survivors keep their relative order...
    survivors = [i for i in before if i in set(after)]
    assert survivors == [i for i in after if i in set(before)]
    # ...and the grown sample is exactly the union's bottom-n
    assert after == bottom_n(set(after) | set(before) | ids | extra)


def _histcut_reference(values, n_buckets, descending):
    """Straight-line histogram cut: bucket(v) = ceil(N * cum(v) / n)
    where cum counts rows at-or-better than v in the chosen order."""
    from collections import Counter
    from math import ceil

    c = Counter(values)
    order = sorted(c, reverse=descending)
    n = len(values)
    out, cum = {}, 0
    for v in order:
        cum += c[v]
        out[v] = ceil(n_buckets * cum / n)
    return out


@given(
    values=st.lists(st.integers(min_value=-5, max_value=5), min_size=1, max_size=40),
    n_buckets=st.sampled_from([1, 3, 5, 10]),
    descending=st.booleans(),
)
@settings(**_SETTINGS)
def test_hist_bucket_edges_matches_reference(spark, values, n_buckets, descending):
    """functions/histcut.py (the ntile replacement): bucket ids match
    the straight-line ceil-rank definition for every value — ties share
    a bucket, ids span [1, n_buckets], monotone in the cut order."""
    from pyspark.sql import functions as F

    from cdc_sync_poc_spark.functions.histcut import hist_bucket_edges

    df = spark.createDataFrame([(v,) for v in values], "cell long")
    edges = hist_bucket_edges(
        df, "cell", n_buckets, descending=descending, out="b"
    )
    got = {r.cell: r.b for r in edges.collect()}
    want = _histcut_reference(values, n_buckets, descending)
    assert got == want
    assert all(1 <= b <= n_buckets for b in got.values())
    ordered = sorted(got, reverse=descending)
    assert all(
        got[a] <= got[b] for a, b in zip(ordered, ordered[1:])
    )  # monotone along the cut order


@pytest.mark.slow
@given(
    lens=st.lists(st.integers(min_value=1, max_value=9), min_size=1, max_size=18),
    langs=st.lists(st.sampled_from(["en", "de"]), min_size=1, max_size=18),
    cut1=st.integers(min_value=0, max_value=18),
    cut2=st.integers(min_value=0, max_value=18),
)
@settings(**_SETTINGS)
def test_streaming_packer_carry_matches_batch(
    spark, tmp_path_factory, lens, langs, cut1, cut2
):
    """streaming/packing.py: for ANY split of a doc stream into
    (possibly empty) batches, sequential pack_batch calls with the
    per-language carry equal batch seq_packing over the union —
    including empty batches and languages absent from a batch."""
    from cdc_sync_poc_spark.llm.preprocess import seq_packing_frame
    from cdc_sync_poc_spark.streaming.packing import StreamingPacker

    n = min(len(lens), len(langs))
    rows = [
        (i, langs[i], " ".join(f"w{j}" for j in range(lens[i])))
        for i in range(n)
    ]
    a, b = sorted((min(cut1, n), min(cut2, n)))
    batches = [rows[:a], rows[a:b], rows[b:]]
    root = str(tmp_path_factory.mktemp("pack_prop"))
    packer = StreamingPacker(spark, root)
    schema = "doc_id long, lang string, text string"
    for i, batch in enumerate(batches):
        packer.pack_batch(spark.createDataFrame(batch, schema), batch_id=i)
    got = {
        r.doc_id: (r.lang, r.n_tokens, r.bin_id, r.bin_offset)
        for r in packer.packed().collect()
    }
    want = {
        r.doc_id: (r.lang, r.n_tokens, r.bin_id, r.bin_offset)
        for r in seq_packing_frame(
            spark.createDataFrame(rows, schema)
        ).collect()
    }
    assert got == want


def _line_dedup_reference(texts, k):
    """Python reference of dedup_line_global: first (doc, pos) keeps a
    segment; docs reassemble from survivors in order."""
    segs = {}
    for doc_id, text in texts:
        ws = text.split(" ")
        n = (len(ws) + k - 1) // k
        for pos in range(1, n + 1):
            seg = " ".join(ws[(pos - 1) * k : pos * k])
            segs.setdefault(seg, (doc_id, pos))
    out = {}
    for doc_id, text in texts:
        ws = text.split(" ")
        n = (len(ws) + k - 1) // k
        kept = [
            " ".join(ws[(p - 1) * k : p * k])
            for p in range(1, n + 1)
            if segs[" ".join(ws[(p - 1) * k : p * k])] == (doc_id, p)
        ]
        out[doc_id] = (n, len(kept), " ".join(kept))
    return out


@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["a", "b", "c"]), min_size=1, max_size=20
        ).map(" ".join),
        min_size=1,
        max_size=6,
    ),
)
@settings(**_SETTINGS)
def test_line_dedup_matches_reference_and_conserves_segments(spark, docs):
    """dedup_line_global invariants against a Python reference: exact
    keep-first winner per segment; and globally, the kept-segment
    multiset is exactly the distinct-segment set (each distinct segment
    survives exactly once, corpus-wide)."""
    from cdc_sync_poc_spark.llm.cleaning import LINE_WORDS, line_dedup_frame

    texts = list(enumerate(docs))
    df = spark.createDataFrame(texts, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_seg, r.n_kept, r.text_kept)
        for r in line_dedup_frame(df).collect()
    }
    assert got == _line_dedup_reference(texts, LINE_WORDS)
    distinct_segments = {
        " ".join(t.split(" ")[(p - 1) * LINE_WORDS : p * LINE_WORDS])
        for _d, t in texts
        for p in range(1, (len(t.split(" ")) + LINE_WORDS - 1) // LINE_WORDS + 1)
    }
    assert sum(k for _n, k, _t in got.values()) == len(distinct_segments)


@pytest.mark.slow
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from("abcdefgh"), min_size=3, max_size=10
        ).map(lambda ws: " ".join(ws)),
        min_size=2,
        max_size=10,
    ),
)
@settings(**_SETTINGS)
def test_ppjoin_finds_exactly_the_brute_force_pairs(spark, docs):
    """The prefix-filter lemma (dedup_ppjoin_exact): on ARBITRARY
    documents the prefix-join result equals brute-force all-pairs
    exact shingle-Jaccard at the same threshold — zero false
    negatives AND zero false positives."""
    from cdc_sync_poc_spark.llm.dedup import (
        JACCARD_T_DEN,
        JACCARD_T_NUM,
        ppjoin_pairs_frame,
    )

    frame = spark.createDataFrame(
        [(i, t) for i, t in enumerate(docs)], "doc_id long, text string"
    )
    got = {
        (r.doc_a, r.doc_b, r.n_common)
        for r in ppjoin_pairs_frame(frame).collect()
    }

    def shingle_set(text):
        w = text.split(" ")
        return {
            " ".join(w[i : i + 3]) for i in range(len(w) - 2)
        } if len(w) >= 3 else set()

    sets = {i: shingle_set(t) for i, t in enumerate(docs)}
    want = set()
    for a in sets:
        for b in sets:
            if a >= b or not sets[a] or not sets[b]:
                continue
            inter = len(sets[a] & sets[b])
            union = len(sets[a] | sets[b])
            if JACCARD_T_DEN * inter >= JACCARD_T_NUM * union:
                want.add((a, b, inter))
    assert got == want


@given(
    weights=st.lists(st.integers(min_value=0, max_value=50), min_size=1, max_size=30),
)
@settings(**_SETTINGS)
def test_systematic_pps_reference_and_multiplicity(spark, weights):
    """sample_systematic_pps invariants on arbitrary weights: every
    threshold lands in exactly one document's weight interval (total
    draws == K when total weight > 0), and any document with weight
    >= W/K is guaranteed at least one draw (the PPS promise)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from cdc_sync_poc_spark.llm.curation import PPS_K
    from cdc_sync_poc_spark.registry import QUERIES, load_all_queries

    load_all_queries()
    total = sum(weights)
    if total == 0:
        return  # no mass, no draws — degenerate by construction
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        pq.write_table(
            pa.Table.from_pylist(
                [
                    {
                        "doc_id": i,
                        "text": "x",
                        "lang": "en",
                        "source": "s",
                        "n_chars": w,
                    }
                    for i, w in enumerate(weights)
                ]
            ),
            f"{d}/documents.parquet",
        )
        rows = QUERIES["sample_systematic_pps"](spark, d).collect()
    assert len(rows) == PPS_K  # every threshold drawn exactly once
    assert {r.draw_id for r in rows} == set(range(PPS_K))
    drawn = {r.doc_id for r in rows}
    for i, w in enumerate(weights):
        if w * PPS_K >= total:  # weight >= W/K spans >= one threshold gap
            assert i in drawn, (i, w, total)


@pytest.mark.slow
@given(
    a=st.lists(st.integers(min_value=0, max_value=10**9), max_size=30),
    b=st.lists(st.integers(min_value=0, max_value=10**9), max_size=30),
)
@settings(**_SETTINGS)
def test_hll_register_merge_law(spark, a, b):
    """HLL mergeability (events_hll_union / streaming rollup): the
    register table of A ∪ B equals the register-wise max of A's and
    B's tables — on arbitrary user_id multisets."""
    from pyspark.sql import functions as F

    from cdc_sync_poc_spark.operators.sketches import hll_register_frame

    def ev(ids):
        return spark.createDataFrame(
            [(u, "t") for u in ids], "user_id long, event_type string"
        )

    ra = hll_register_frame(ev(a))
    rb = hll_register_frame(ev(b))
    merged = {
        (r.event_type, r.bucket, r.reg)
        for r in ra.unionByName(rb)
        .groupBy("event_type", "bucket")
        .agg(F.max("reg").alias("reg"))
        .collect()
    }
    union = {
        (r.event_type, r.bucket, r.reg)
        for r in hll_register_frame(ev(a + b)).collect()
    }
    assert merged == union


def test_ppjoin_alpha_below_l_keeps_tiny_doc_pairs(spark):
    """Deterministic pin for the l-prefix guard (k >= min(l, alpha)):
    two identical 1-shingle docs have required overlap alpha = 1 < L,
    can only ever share ONE prefix token, and must still pair (J=1.0).
    A plain k >= L rule would silently drop them."""
    from cdc_sync_poc_spark.llm.dedup import PPJOIN_L, ppjoin_pairs_frame

    assert PPJOIN_L >= 2  # the guard only matters for l >= 2
    frame = spark.createDataFrame(
        [(0, "a b c"), (1, "a b c"), (2, "x y z")],
        "doc_id long, text string",
    )
    got = {(r.doc_a, r.doc_b, r.n_common) for r in ppjoin_pairs_frame(frame).collect()}
    assert got == {(0, 1, 1)}


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.integers(min_value=0, max_value=5_000), min_size=1, max_size=40,
        unique=True,
    )
)
def test_train_order_shuffle_is_shardwise_permutation(spark, doc_ids):
    """The epoch shuffle must emit, per shard, positions 1..n_shard
    with no gaps or repeats (a true permutation a data loader can
    consume), and the banded two-level rank must equal the flat
    per-shard rank by (hash, doc_id)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from cdc_sync_poc_spark.llm import preprocess as pp

    import tempfile

    with tempfile.TemporaryDirectory() as td:
        pd.DataFrame(
            {"doc_id": doc_ids, "lang": "en", "text": "w"}
        ).to_parquet(f"{td}/documents.parquet")
        out = pp.train_order_shuffle(spark, td).collect()
    assert len(out) == len(doc_ids)
    by_shard: dict[int, list[int]] = {}
    for r in out:
        by_shard.setdefault(r.shard, []).append(r.pos)
    for shard, poss in by_shard.items():
        assert sorted(poss) == list(range(1, len(poss) + 1)), shard


def test_pack_padding_waste_invariants(spark, tmp_path):
    """waste_frac must lie in [0, 1), slots >= tokens for both
    methods, both methods must account the identical token total, and
    packed slots must equal bins * PACK_BUDGET exactly."""
    import pandas as pd

    from cdc_sync_poc_spark.llm.preprocess import PACK_BUDGET, pack_padding_waste

    pd.DataFrame(
        {
            "doc_id": list(range(50)),
            "lang": ["en" if i % 3 else "ko" for i in range(50)],
            "text": [("w " * (1 + (i * 37) % 90)).strip() for i in range(50)],
        }
    ).to_parquet(f"{tmp_path}/documents.parquet")
    rows = {r.method: r for r in pack_padding_waste(spark, str(tmp_path)).collect()}
    assert set(rows) == {"packed", "bucketed"}
    assert rows["packed"].n_tokens == rows["bucketed"].n_tokens
    for r in rows.values():
        assert r.n_slots >= r.n_tokens > 0
        assert 0.0 <= r.waste_frac < 1.0
    assert rows["packed"].n_slots == rows["packed"].n_units * PACK_BUDGET


@pytest.mark.slow
@pytest.mark.parametrize("agg", ["sum", "min", "max"])
@given(
    batches=st.lists(
        st.lists(
            st.tuples(
                st.sampled_from(["a", "b", "c", "d"]),
                st.integers(min_value=1, max_value=50),
            ),
            min_size=0,
            max_size=5,
        ),
        min_size=1,
        max_size=4,
    ),
    compact_at=st.integers(min_value=-1, max_value=3),
    replay=st.integers(min_value=0, max_value=3),
)
@settings(**_SETTINGS)
def test_keyed_delta_store_totals_invariant(
    spark, tmp_path_factory, agg, batches, compact_at, replay
):
    """KeyedDeltaStore (streaming/delta_store.py), for each aggregate:
    for ANY batch split, compaction point, and replayed batch,
    totals() equals the straight-line per-key fold over all batches —
    compaction and replays must be observationally invisible (min and
    max are idempotent as well, so arrival order cannot matter)."""
    from cdc_sync_poc_spark.streaming.delta_store import KeyedDeltaStore

    fold = {"sum": lambda a, b: a + b, "min": min, "max": max}[agg]
    root = tmp_path_factory.mktemp("kds_prop")
    store = KeyedDeltaStore(
        spark, str(root), ["k"], "k string, n bigint", agg=agg
    )

    def folded(rows, acc):
        for k, n in rows:
            acc[k] = fold(acc[k], n) if k in acc else n
        return acc

    def agg_frame(batch):
        return spark.createDataFrame(
            list(folded(batch, {}).items()), "k string, n bigint"
        )

    want: dict[str, int] = {}
    for bid, batch in enumerate(batches):
        store.write_delta(agg_frame(batch), bid)
        folded(batch, want)

    store.compact(compact_at)
    if replay < len(batches):
        # at-least-once: a batch replays AFTER compaction may have
        # folded it — partition ownership + watermark must absorb it
        store.write_delta(agg_frame(batches[replay]), replay)

    assert {r.k: r.n for r in store.totals().collect()} == want


def _newest_per_key(changes):
    """The last-wins batch reduction the writer is checked against,
    written independently of it: a row_number() window keeps each key's
    newest row by cdc_seq."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    newest_first = Window.partitionBy("pk").orderBy(F.desc("cdc_seq"))
    return (
        changes.withColumn("rn", F.row_number().over(newest_first))
        .filter("rn = 1")
        .select("cdc_seq", "pk", "operation", "val")
    )


@given(
    batches=st.lists(
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=5),  # pk
                st.sampled_from(["INSERT", "UPDATE", "DELETE"]),
                st.integers(min_value=0, max_value=99),  # val
            ),
            min_size=0,
            max_size=5,
        ),
        min_size=1,
        max_size=4,
    ),
    base_keys=st.sets(st.integers(min_value=0, max_value=5), max_size=4),
    compact_after=st.integers(min_value=-1, max_value=3),
    replay=st.integers(min_value=0, max_value=3),
)
# a fold that deletes every key, then a replay of the folded batch
@example(
    batches=[[(0, "DELETE", 0)]], base_keys={0}, compact_after=0, replay=0
)
@settings(**_SETTINGS)
def test_merge_writer_state_matches_per_batch_merge_fold(
    spark, tmp_path_factory, batches, base_keys, compact_after, replay
):
    """ParquetMergeWriter (merge-on-read over LastWinsDeltaStore): for
    ANY batch split, compaction point and replayed batch,
    current_state() equals the straight-line fold of
    merge_final_state over the batches — compaction and replays must be
    observationally invisible, including folds that delete every key."""
    from cdc_sync_poc_spark.operators.apply import merge_final_state
    from cdc_sync_poc_spark.streaming.writer import ParquetMergeWriter

    root = tmp_path_factory.mktemp("mor_prop")
    base_ddl = "c_custkey long, c_name string, c_acctbal double"
    base = spark.createDataFrame(
        [(k, f"name{k}", float(k)) for k in sorted(base_keys)], base_ddl
    )
    writer = ParquetMergeWriter(
        spark, str(root / "state"), str(root / "audit"), n_buckets=4
    )
    writer.init_state(base)
    frames, seq = [], 0
    for rows in batches:
        frames.append(
            spark.createDataFrame(
                [(seq + i, pk, op, float(v)) for i, (pk, op, v) in enumerate(rows)],
                "cdc_seq long, pk long, operation string, val double",
            )
        )
        seq += len(rows)

    want = {tuple(r) for r in base.collect()}
    for bid, frame in enumerate(frames):
        writer.apply_batch(frame, bid)
        if bid == compact_after:
            writer.store.compact(bid)
        folded = merge_final_state(
            spark.createDataFrame(sorted(want), base_ddl), _newest_per_key(frame)
        )
        want = {(r.pk, r.name, r.acctbal) for r in folded.collect()}
    if replay < len(frames):
        # at-least-once: the batch may already be folded into the base
        writer.apply_batch(frames[replay], replay)

    got = {(r.pk, r.name, r.acctbal) for r in writer.current_state().collect()}
    assert got == want


def _scd2_reference(events):
    """Straight-line ap07: per pk in cdc_seq order, every non-DELETE
    event opens a version that the pk's next event closes."""
    by_pk: dict[int, list] = {}
    for seq, pk, op, ts, val in sorted(events):
        by_pk.setdefault(pk, []).append((seq, op, ts, val))
    out = set()
    for pk, evs in by_pk.items():
        for i, (seq, op, ts, val) in enumerate(evs):
            if op == "DELETE":
                continue
            nxt = evs[i + 1][2] if i + 1 < len(evs) else None
            out.add((seq, pk, val, ts, nxt, nxt is None))
    return out


@given(
    batches=st.lists(
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=5),  # pk
                st.sampled_from(["INSERT", "UPDATE", "DELETE"]),
                st.integers(min_value=0, max_value=99),  # val
            ),
            min_size=0,
            max_size=5,
        ),
        min_size=1,
        max_size=4,
    ),
    compact_after=st.integers(min_value=-1, max_value=3),
    replay=st.integers(min_value=0, max_value=3),
)
# a fold that deletes every key, then a replay of the folded batch
@example(
    batches=[[(0, "INSERT", 1)], [(0, "DELETE", 0)]], compact_after=1, replay=1
)
@settings(**_SETTINGS)
def test_scd2_writer_history_matches_lead_reference(
    spark, tmp_path_factory, batches, compact_after, replay
):
    """Scd2StreamWriter (merge-on-read over LastWinsDeltaStore): for ANY
    batch split, compaction point and replayed batch, history() equals
    a plain-Python lead() over the concatenated events — compaction
    and replays must be observationally invisible, including folds
    that delete every key."""
    from cdc_sync_poc_spark.streaming.scd2 import Scd2StreamWriter

    writer = Scd2StreamWriter(spark, str(tmp_path_factory.mktemp("scd2_prop")))
    events, frames = [], []
    for rows in batches:
        batch = [
            (len(events) + i, pk, op, 1000 * (len(events) + i), float(v))
            for i, (pk, op, v) in enumerate(rows)
        ]
        events += batch
        frames.append(
            spark.createDataFrame(
                batch,
                "cdc_seq long, pk long, operation string, ts_ms long, val double",
            )
        )
    for bid, frame in enumerate(frames):
        writer.apply_batch(frame, bid)
        if bid == compact_after:
            writer.store.compact(bid)
    if replay < len(frames):
        # at-least-once: the batch may already be folded into the base
        writer.apply_batch(frames[replay], replay)

    got = {
        (r.version_seq, r.pk, r.val, r.valid_from_ms, r.valid_to_ms, r.is_current)
        for r in writer.history().collect()
    }
    assert got == _scd2_reference(events)


@given(
    texts=st.lists(
        st.lists(
            st.sampled_from(["alpha", "beta", "gamma", "delta", "eps"]),
            min_size=0,
            max_size=24,
        ),
        min_size=1,
        max_size=14,
    )
)
@settings(**_SETTINGS)
def test_ngram_novelty_matches_reference(spark, texts):
    """text_ngram_novelty vs a straight-line reference on arbitrary
    small-vocabulary corpora (small vocab forces heavy gram sharing):
    per-doc (n_distinct, n_novel) match, and corpus novelty mass
    conservation — sum(n_novel) == |distinct grams in the corpus| —
    because each gram is charged to exactly one owner."""
    from cdc_sync_poc_spark.llm.preprocess import DUP_N, text_ngram_novelty
    from cdc_sync_poc_spark.registry import load_all_queries

    load_all_queries()
    docs = [(i, " ".join(ws)) for i, ws in enumerate(texts)]

    # straight-line reference
    import hashlib

    def grams(words):
        return {
            " ".join(words[i : i + DUP_N])
            for i in range(len(words) - DUP_N + 1)
        }

    ref_grams = {i: grams(t.split(" ")) for i, t in docs if len(t.split(" ")) >= DUP_N}
    owner: dict[str, int] = {}
    for i in sorted(ref_grams):
        for g in ref_grams[i]:
            owner.setdefault(g, i)
    want = {
        i: (len(gs), sum(1 for g in gs if owner[g] == i))
        for i, gs in ref_grams.items()
    }

    df = spark.createDataFrame(docs, "doc_id long, text string")
    import unittest.mock as mock

    with mock.patch(
        "cdc_sync_poc_spark.llm.preprocess.load_table", return_value=df
    ):
        rows = text_ngram_novelty(spark, "ignored").collect()
    got = {r.doc_id: (r.n_distinct, r.n_novel) for r in rows}
    assert got == want
    if want:
        all_grams = set().union(*ref_grams.values())
        assert sum(n for _, n in got.values()) == len(all_grams)


@pytest.mark.slow
@given(
    texts=st.lists(
        st.lists(
            st.sampled_from(["red", "blue", "green", "gold"]),
            min_size=3,
            max_size=16,
        ),
        min_size=2,
        max_size=10,
    )
)
@settings(**_SETTINGS)
def test_minhash_estimate_bounds_and_exact_side(spark, texts):
    """dedup_minhash_estimate invariants on arbitrary tiny corpora:
    est_jaccard in [0,1] in 1/N_HASHES steps, jaccard matches a
    straight-line shingle computation, abs_err consistent."""
    from cdc_sync_poc_spark.llm.dedup import (
        N_HASHES,
        dedup_minhash_estimate,
    )
    from cdc_sync_poc_spark.registry import load_all_queries

    load_all_queries()
    docs = [(i, " ".join(ws)) for i, ws in enumerate(texts)]

    def shingles(words):
        return {
            " ".join(words[i : i + 3]) for i in range(len(words) - 2)
        }

    ref = {i: shingles(t.split(" ")) for i, t in docs if len(t.split(" ")) >= 3}

    df = spark.createDataFrame(docs, "doc_id long, text string")
    import unittest.mock as mock

    with mock.patch(
        "cdc_sync_poc_spark.llm.dedup.load_table", return_value=df
    ):
        rows = dedup_minhash_estimate(spark, "ignored").collect()
    for r in rows:
        steps = round(r.est_jaccard * N_HASHES)
        assert 0 <= steps <= N_HASHES
        # the engine rounds est_jaccard to 6 dp (llm/dedup.py display
        # convention, oracle-identical), so the quantum check must
        # compare against the same rounding — steps/N_HASHES raw can
        # sit 3.3e-7 away (e.g. 4/12 -> 0.333333), VERDICT r12 #1
        assert r.est_jaccard == round(steps / N_HASHES, 6)
        sa, sb = ref[r.doc_a], ref[r.doc_b]
        want_j = round(len(sa & sb) / len(sa | sb), 6)
        assert r.jaccard == want_j
        # the engine rounds the RAW difference (llm/dedup.py:487:
        # round(|est_raw - jac_raw|, 6)); recomputing the expectation
        # from the rounded est_jaccard display column stacks two 6-dp
        # roundings that can legitimately differ by exactly 1e-6, and
        # float repr pushes that over a <= 1e-6 float bound (VERDICT
        # r13 #1, falsifying example cached in .hypothesis/). Compare
        # in integer micro-units with +-1 slack against the RAW
        # estimate steps/N_HASHES instead.
        raw_err = abs(steps / N_HASHES - len(sa & sb) / len(sa | sb))
        assert abs(round(r.abs_err * 1e6) - round(raw_err * 1e6)) <= 1


@pytest.fixture
def _clear_cache_after(spark):
    """Post-test cache sweep: each hypothesis example below mocks a
    FRESH createDataFrame corpus, so the query bodies' cache()/persist()
    calls create per-example-DISTINCT plans — the plan-keyed dedupe
    that makes the fixture-corpus caches shared does NOT apply, and
    nothing else unpersists them. One sweep after the whole test (all
    examples) bounds the accumulation without evicting other tests'
    legitimately shared session caches per example."""
    yield
    spark.catalog.clearCache()


@pytest.mark.slow
@given(
    texts=st.lists(
        st.lists(
            st.sampled_from(["red", "blue", "green", "gold"]),
            min_size=3,
            max_size=16,
        ),
        min_size=2,
        max_size=10,
    )
)
@settings(**_SETTINGS)
def test_minhash_cluster_incremental_matches_batch(
    spark, _clear_cache_after, texts
):
    """dedup_minhash_cluster_incremental's star-edge + delta-pair fold
    must produce the IDENTICAL (doc_id, cluster_id) labels as the
    one-shot batch clustering on ANY tiny corpus — the contraction
    argument (base-only pairs connect strictly within base components)
    asserted as a property, not just on the fixture. The batch side is
    recomputed per example (its per-session memo is keyed by sf_dir,
    so each example uses a distinct tag)."""
    from cdc_sync_poc_spark.llm.dedup import (
        _CLUSTER_INC_PLAN_MEMO,
        _CLUSTER_MEMO,
        dedup_minhash_cluster,
        dedup_minhash_cluster_incremental,
    )
    from cdc_sync_poc_spark.registry import load_all_queries

    load_all_queries()
    docs = [(i, " ".join(ws)) for i, ws in enumerate(texts)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    import unittest.mock as mock

    # the memos must not leak across examples: each example mocks a
    # fresh corpus under the same sf_dir tags, so both the label memo
    # and the incremental fold's plan-handle memo would replay example
    # N-1's plans against example N's data
    _CLUSTER_MEMO.clear()
    _CLUSTER_INC_PLAN_MEMO.clear()
    with mock.patch(
        "cdc_sync_poc_spark.llm.dedup.load_table", return_value=df
    ):
        want = {
            (r.doc_id, r.cluster_id)
            for r in dedup_minhash_cluster(spark, "prop://batch").collect()
        }
        got = {
            (r.doc_id, r.cluster_id)
            for r in dedup_minhash_cluster_incremental(
                spark, "prop://incr"
            ).collect()
        }
    _CLUSTER_MEMO.clear()
    _CLUSTER_INC_PLAN_MEMO.clear()
    assert got == want


@pytest.mark.slow
@given(
    batches=st.lists(
        st.lists(
            st.tuples(
                st.sampled_from(["a", "b", "c"]),
                st.integers(min_value=0, max_value=9),
            ),
            min_size=0,
            max_size=4,
        ),
        min_size=1,
        max_size=4,
    ),
    compact1=st.integers(min_value=-1, max_value=3),
    replay1=st.integers(min_value=0, max_value=3),
    compact2=st.integers(min_value=-1, max_value=3),
    replay2=st.integers(min_value=0, max_value=3),
)
@settings(**_SETTINGS)
def test_append_delta_store_rows_invariant(
    spark, tmp_path_factory, batches, compact1, replay1, compact2, replay2
):
    """AppendDeltaStore (streaming/delta_store.py), the partition-
    ownership replay law pinned directly on the class (VERDICT r10
    "Next round" #6): for ANY batch split, ANY two compaction points
    and ANY two replayed batches interleaved between them, rows() is
    exactly the MULTISET union of every batch's rows with its batch_id
    — re-writing batch N's partition is idempotent and never
    duplicated on read, whether the replay lands before compaction
    (overwrites its own live partition), after it (recreates a folded
    partition the watermark excludes), or between two compactions (the
    second fold's ``batch_id > prev_upto`` filter excludes the
    recreated partition from double-folding)."""
    from collections import Counter

    from cdc_sync_poc_spark.streaming.delta_store import AppendDeltaStore

    root = tmp_path_factory.mktemp("ads_prop")
    store = AppendDeltaStore(
        spark, str(root), "item string, val bigint, batch_id long"
    )

    def frame(batch):
        return spark.createDataFrame(
            [(i, v) for i, v in batch] or [], "item string, val bigint"
        )

    want: Counter = Counter()
    for bid, batch in enumerate(batches):
        store.write_delta(frame(batch), bid)
        for i, v in batch:
            want[(i, v, bid)] += 1

    store.compact(compact1)
    if replay1 < len(batches):
        store.write_delta(frame(batches[replay1]), replay1)
    store.compact(compact2)
    if replay2 < len(batches):
        store.write_delta(frame(batches[replay2]), replay2)

    got = Counter(
        (r.item, r.val, r.batch_id) for r in store.rows().collect()
    )
    assert got == want


def test_lsh_bucket_cap_bounds_degenerate_corpus(spark):
    """VERDICT r11 "What's wrong" #2: an all-identical corpus puts
    every doc in ONE bucket per band; uncapped, the band self-join
    emits O(n^2) pairs in a single task. With the hot-bucket guard,
    oversized buckets are dropped BEFORE the join (zero pairs here),
    corpora below the cap keep exact full-clique semantics, and the
    dropped mass is observable in-plan (no silent cap)."""
    from pyspark.sql import functions as F

    from cdc_sync_poc_spark.llm.dedup import (
        BAND_SIZE,
        LSH_BUCKET_CAP,
        N_HASHES,
        _band_pairs,
        _minhash_sig,
        _shingles,
    )

    def clique(n, text):
        docs = spark.range(n).select(
            F.col("id").alias("doc_id"), F.lit(text).alias("text")
        )
        return _band_pairs(_minhash_sig(_shingles(docs), cache=False),
                           BAND_SIZE)

    n_hot = LSH_BUCKET_CAP + 100
    hot = clique(n_hot, "all documents share this exact boilerplate body")
    assert hot.count() == 0  # bounded: not O(n^2)

    # below the cap nothing changes: exact full clique
    cold = clique(40, "a different shared body below the bucket cap")
    assert cold.count() == 40 * 39 // 2

    # mixed corpus: the hot buckets are dropped (contribute 0 pairs),
    # the cold clique survives intact, and the drop is observable —
    # the in-plan metric reports the hot-bucket count (one per band:
    # identical docs share every signature slice) and the hot bucket's
    # size. Read from THIS frame's queryExecution: collect() executes
    # it, while a derived action like .count() builds its own
    # execution whose metrics map stays empty. (With ZERO hot buckets,
    # AQE empty-relation propagation replaces the guard anti-join with
    # its probe side and elides the metrics node — an absent metric
    # means nothing was dropped.)
    hot_docs = spark.range(n_hot).select(
        F.col("id").alias("doc_id"),
        F.lit("all documents share this exact boilerplate body").alias(
            "text"
        ),
    )
    cold_docs = spark.range(10_000, 10_040).select(
        F.col("id").alias("doc_id"),
        F.lit("a different shared body below the bucket cap").alias("text"),
    )
    mixed = _band_pairs(
        _minhash_sig(_shingles(hot_docs.unionByName(cold_docs)),
                     cache=False),
        BAND_SIZE,
    )
    got = mixed.collect()
    assert len(got) == 40 * 39 // 2  # only the cold clique
    assert all(r.doc_a >= 10_000 for r in got)
    metrics = {
        str(k): v
        for k, v in spark._jvm.scala.collection.JavaConverters
        .mapAsJavaMap(mixed._jdf.queryExecution().observedMetrics())
        .items()
    }
    m = metrics[f"lsh_bucket_cap[b{BAND_SIZE}]"]
    n_bands = N_HASHES // BAND_SIZE
    assert m.getLong(0) == n_bands  # n_hot_buckets: one per band
    assert m.getLong(1) == n_hot  # max_bucket_n


def _span_intervals_reference(docs_words, w):
    """Brute-force dedup_span_intervals: duplicated position = its
    w-word window occurs in >= 2 distinct docs; merge positions into
    maximal intervals under the gap rule next_i <= prev_i + w."""
    from collections import defaultdict

    owners = defaultdict(set)
    for did, words in docs_words:
        for i in range(1, len(words) - w + 2):
            owners[tuple(words[i - 1 : i - 1 + w])].add(did)
    out = []
    for did, words in docs_words:
        pos = [
            i
            for i in range(1, len(words) - w + 2)
            if len(owners[tuple(words[i - 1 : i - 1 + w])]) >= 2
        ]
        start = prev = None
        for i in pos:
            if prev is not None and i <= prev + w:
                prev = i
                continue
            if prev is not None:
                out.append((did, start, prev + w - 1, prev + w - start))
            start = prev = i
        if prev is not None:
            out.append((did, start, prev + w - 1, prev + w - start))
    return sorted(out)


@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["a", "b", "c"]),
            min_size=1,
            max_size=30,
        ),
        min_size=2,
        max_size=6,
    )
)
@settings(**_SETTINGS)
def test_span_intervals_matches_reference(spark, docs):
    """dedup_span_intervals' distributed form (span-hash agg +
    semi-join + gaps-and-islands windows) must equal the brute-force
    position-set computation on adversarial tiny-alphabet corpora —
    the 3-letter alphabet makes spans collide constantly, hitting
    interval-merge boundaries (overlap, exact adjacency i = prev+w,
    gap of one) that the fixture corpus rarely produces."""
    import cdc_sync_poc_spark.llm.hygiene as hy
    from cdc_sync_poc_spark.llm.hygiene import SPAN_INT_WORDS

    docs_words = [(i, ws) for i, ws in enumerate(docs)]
    frame = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in docs_words],
        "doc_id long, text string",
    )
    # drive the registered operator body on the synthetic frame
    orig = hy.load_table
    try:
        hy.load_table = lambda s, d, t: frame
        got = sorted(
            (r.doc_id, r.span_start, r.span_end, r.span_words)
            for r in hy.dedup_span_intervals(spark, "unused").collect()
        )
    finally:
        hy.load_table = orig
    assert got == _span_intervals_reference(docs_words, SPAN_INT_WORDS)


# ---- degenerate-corpus engine-parity sweep (VERDICT r12 #5) ----
# The r12 lesson generalized: engine divergence hides in degenerate
# inputs (0/0 divisions, empty aggregates, int64 overflow), so each
# document-driven text_*/dedup_*/corpus_* query below must produce
# bit-identical Spark and DuckDB results over three degenerate corpora.
# The ids are pinned (the r15 correctness-sample cohort) so the sweep's
# coverage and cost do not move with registry order.
_DEGENERATE_CORPORA = {
    "empty": [],
    "single_one_char_doc": [(0, "x", "en", "src0", 1)],
    "all_identical_docs": [
        (i, "the same exact words repeat here verbatim every time",
         "en", f"src{i % 2}", 51)
        for i in range(6)
    ],
}
_DOCS_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


_DEGENERATE_DOC_QUERIES = (
    "text_cooccur_lift", "text_lm_score", "text_ngram_novelty",
    "dedup_lsh_curve", "corpus_contamination", "text_bm25_rank",
    "corpus_decontam_incremental", "dedup_recall_minhash",
    "corpus_divergence_chi2", "dedup_span_intervals",
    "dedup_winnowing_pairs", "text_winnowing_overlap", "dedup_line_global",
    "corpus_contamination_by_source", "corpus_dedup_rate_by_source",
    "corpus_mix_weights", "corpus_train_split",
)


def _pinned_with_oracles(names: tuple[str, ...]) -> tuple[str, ...]:
    from cdc_sync_poc_spark.registry import ORACLES, QUERIES, load_all_queries

    load_all_queries()
    missing = [q for q in names if q not in QUERIES or q not in ORACLES]
    assert not missing, f"pinned sweep ids unregistered or oracle-less: {missing}"
    return names


@pytest.mark.parametrize("fixture", sorted(_DEGENERATE_CORPORA))
def test_degenerate_corpus_engine_parity(spark, fixture):
    import unittest.mock as mock

    import duckdb
    import pandas as pd

    from cdc_sync_poc_spark.registry import ORACLES, QUERIES
    from tests.compare import compare_frames

    rows = _DEGENERATE_CORPORA[fixture]
    df = spark.createDataFrame(rows, _DOCS_SCHEMA)
    pdf = pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    ).astype(
        {"doc_id": "int64", "text": "object", "lang": "object",
         "source": "object", "n_chars": "int64"}
    )
    con = duckdb.connect()
    con.register("documents", pdf)
    names = _pinned_with_oracles(_DEGENERATE_DOC_QUERIES)
    # patch EVERY llm module that imported load_table, discovered from
    # the loaded module graph — a hardcoded module list silently misses
    # an id whose module is not on it (r14: dedup_segment_boilerplate
    # lives in segment_stats, which such a list did not know)
    import sys as _sys

    llm_mods = [
        name
        for name, mod in list(_sys.modules.items())
        if name.startswith("cdc_sync_poc_spark.llm.")
        and hasattr(mod, "load_table")
    ]
    patches = [
        mock.patch(f"{m}.load_table", return_value=df) for m in llm_mods
    ]
    for p in patches:
        p.start()
    try:
        for q in names:
            try:
                # distinct fake sf_dir per fixture (the embedding sweep
                # pattern): the registry plan memo and the per-session
                # internal memos key on sf_dir, so a shared tag would
                # replay fixture A's plan against fixture B's mock
                got = QUERIES[q](
                    spark, f"degenerate://fixture/{fixture}"
                ).toPandas()
                want = con.sql(ORACLES[q]).df()
                compare_frames(got, want)
            except Exception as ex:  # noqa: BLE001 — name the query
                raise AssertionError(
                    f"degenerate parity failed for {q} on {fixture}: {ex}"
                ) from ex
    finally:
        for p in patches:
            p.stop()


# ---- degenerate-EMBEDDINGS engine parity (r13 extension of the sweep
# above): the pinned embedding-driven ops must agree with DuckDB on
# degenerate vector corpora too. all_identical exercises
# emb_ivf_resplit's drop-on-empty sub path (every cosine ties, sub 0
# wins everything, sub 1 empties identically in both engines) and
# sem_dedup's max_cos=1.0 ties; values are exact quarter multiples so
# float32 -> float64 round-trips identically on both sides.
def _qvec(vec_id: int) -> list[float]:
    return [((vec_id * 37 + i) % 7 - 3) * 0.25 for i in range(64)]


_DEGENERATE_EMBS = {
    "empty": [],
    "single_vector": [(0, _qvec(0), 0)],
    "all_identical": [(i, _qvec(1), i % 2) for i in range(8)],
    "two_cells_worth": [(i, _qvec(i), i % 3) for i in range(20)],
}


_DEGENERATE_EMB_QUERIES = ("emb_hard_negatives", "emb_ivf_resplit")


@pytest.mark.parametrize("fixture", sorted(_DEGENERATE_EMBS))
def test_degenerate_embeddings_engine_parity(spark, fixture):
    import unittest.mock as mock

    import duckdb

    from cdc_sync_poc_spark.registry import ORACLES, QUERIES
    from tests.compare import compare_frames

    names = _pinned_with_oracles(_DEGENERATE_EMB_QUERIES)
    # the sweep mocks similarity.load_table with a lone embeddings
    # frame, so every id must live in the similarity module and read
    # embeddings only (emb_covariance_topk in curation.py cannot run
    # under this harness)
    assert all(
        getattr(QUERIES[q], "__wrapped__", QUERIES[q]).__module__
        == "cdc_sync_poc_spark.llm.similarity"
        for q in names
    ), names

    rows = _DEGENERATE_EMBS[fixture]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    # a typed Arrow table, NOT a pandas frame: an EMPTY object column
    # would bind as VARCHAR in DuckDB and break the list arithmetic
    import pyarrow as pa

    tbl = pa.Table.from_pylist(
        [
            {"vec_id": v, "embedding": e, "label": lb}
            for v, e, lb in rows
        ],
        schema=pa.schema(
            [
                ("vec_id", pa.int64()),
                ("embedding", pa.list_(pa.float32())),
                ("label", pa.int32()),
            ]
        ),
    )
    con = duckdb.connect()
    con.register("embeddings", tbl)
    # distinct fake sf_dir per fixture: _IVF_MEMO keys on it
    sf_tag = f"degenerate://emb/{fixture}"
    with mock.patch(
        "cdc_sync_poc_spark.llm.similarity.load_table", return_value=df
    ):
        for q in names:
            try:
                got = QUERIES[q](spark, sf_tag).toPandas()
                want = con.sql(ORACLES[q]).df()
                compare_frames(got, want)
            except Exception as ex:  # noqa: BLE001 — name the query
                raise AssertionError(
                    f"degenerate parity failed for {q} on {fixture}: {ex}"
                ) from ex
