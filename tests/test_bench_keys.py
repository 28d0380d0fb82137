"""The compact bench line (bench.py) aliases every headline key so all
per-query timings fit the driver's 2000-char tail capture. The alias map is
committed at tools/bench_keys.json so the judge can decode BENCH_r{N}.json;
these tests pin runtime mapping == committed snapshot, the size contract,
and (r10) the explicit exclusion policy: HEADLINE = registry minus the
streaming drains and estimate-only twins named in bench.py's comment."""

import json
import os

import bench
from elastik_nearest_neighbors_spark import registry

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# the ONLY keys the bench may skip (bench.py HEADLINE policy comment)
BENCH_EXCLUDED = {
    # (a) streaming drains — drain time, not plan cost; batch twins benched
    "streaming_index",
    "streaming_index_store",
    "streaming_index_compact",
    "streaming_sessionize",
    "streaming_sessionize_append",
    "streaming_sessionize_check",
    "streaming_sliding_window",
    "streaming_dedup_state",
    "streaming_events_hourly",
    "streaming_ann_search",
    # (b)/(c) estimate-only twins / rows-only HLL estimate
    "events_approx_distinct",
    "events_approx_distinct_check",
}


def test_headline_is_registry_minus_documented_exclusions():
    reg = set(registry.queries())
    head = set(bench.HEADLINE)
    assert head & BENCH_EXCLUDED == set(), head & BENCH_EXCLUDED
    assert reg - head == BENCH_EXCLUDED, (
        "HEADLINE drifted from the exclusion policy: "
        f"unbenched-and-undocumented={sorted(reg - head - BENCH_EXCLUDED)} "
        f"documented-but-benched-or-gone={sorted(BENCH_EXCLUDED - (reg - head))}"
    )
    assert len(bench.HEADLINE) == len(head)  # no dup timings


def test_short_keymap_unique_and_pinned():
    smap = bench.short_keymap(bench.bench_key_universe())
    assert len(set(smap.values())) == len(smap)
    with open(os.path.join(_ROOT, "tools", "bench_keys.json")) as f:
        committed = json.load(f)
    assert smap == committed, (
        "tools/bench_keys.json drifted from bench.short_keymap(HEADLINE); "
        "regenerate the snapshot in the same commit as the HEADLINE change"
    )


def _compact_ref(v: float):
    # mirror of bench.main's inner _compact encoder (kept in sync by
    # test_compact_encoder_width below exercising the same contract)
    if v < 1:
        g = max(round(v, 2), 0.01)
    elif v < 1000:
        g = float(f"{v:.3g}")
    else:
        g = round(v)
    return int(g) if isinstance(g, float) and g.is_integer() else g


def test_compact_encoder_width_le_4_chars():
    # the size-budget proof below models every value as 4 chars; the
    # encoder must guarantee that over the whole realistic domain
    # v < 9999.5 s (ADVICE r10: the old 3-sig-digit cut emitted 5-char
    # sub-second values like "0.218" while the model said 4; the first
    # r11 fix still emitted 5 chars for v >= 9995 via "1e+04" -> 10000)
    import random

    vals = [0.001, 0.0099, 0.049, 0.1, 0.218, 0.5, 0.95, 0.995, 0.9999,
            1.0, 1.372, 9.99, 12.34, 99.94, 163.9, 999.4, 999.9, 1000.0,
            1234.5, 9994.0, 9995.0, 9999.4]
    rng = random.Random(11)
    vals += [rng.uniform(0.001, 9999.4) for _ in range(2000)]
    for v in vals:
        enc = json.dumps(_compact_ref(v))
        assert len(enc) <= 4, (v, enc)


def test_compact_line_fits_tail_budget():
    # worst-case payload: EVERY key at the encoder's widest emission
    # (4 chars, guaranteed by test_compact_encoder_width_le_4_chars —
    # previously the model assumed 4 while the encoder could emit 5)
    universe = bench.bench_key_universe()
    smap = bench.short_keymap(universe)
    out = {
        "metric": "headline_queries_total",
        "value": 9999.999,
        "unit": "sec",
        "queries": {smap[k]: 99.9 for k in universe},
        "sf": 0.1,
        "queries_omitted": 0,
        "keymap": "tools/bench_keys.json",
        "full": "BENCH_LOCAL.json",
    }
    assert len(json.dumps(out, separators=(",", ":"))) <= 1900


def test_aliases_append_only_vs_latest_round_snapshot():
    # ADVICE r10 (medium): aliases must never re-point. The committed
    # current snapshot must CONTAIN the latest frozen per-round snapshot
    # verbatim (every historical BENCH_r{N}.json decodes against its own
    # tools/bench_keys_r{N}.json; the current map only appends).
    import glob

    versioned = sorted(glob.glob(os.path.join(_ROOT, "tools", "bench_keys_r*.json")))
    assert versioned, "per-round keymap snapshots missing"
    with open(versioned[-1]) as f:
        frozen = json.load(f)
    with open(os.path.join(_ROOT, "tools", "bench_keys.json")) as f:
        current = json.load(f)
    # a key (with its derived `_memo` twin) may leave the current map only
    # by leaving the registry; its alias stays reserved (the reuse check
    # below still reads it)
    reg = set(registry.queries())
    retired = {k for k in frozen if k.removesuffix("_memo") not in reg}
    repointed = {
        k: (v, current.get(k))
        for k, v in frozen.items()
        if current.get(k) != v and k not in retired
    }
    assert not repointed, f"aliases re-pointed or dropped vs {versioned[-1]}: {repointed}"
    # and the reverse direction: no alias string reused for a different name
    inv_frozen = {a: n for n, a in frozen.items()}
    stolen = {a: (inv_frozen[a], n) for n, a in current.items()
              if a in inv_frozen and inv_frozen[a] != n}
    assert not stolen, f"alias strings reused for different keys: {stolen}"
