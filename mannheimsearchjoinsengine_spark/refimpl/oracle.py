"""Pure-Python reference implementation of the KG pipeline semantics.

Independent third implementation (no Spark, no DuckDB) of the contract in
SURVEY.md §7 / FIXTURES.md — used by the pytest P/R ≥ 0.95 gate
(BASELINE.json metric) to validate the engine's emitted (subj, pred, obj)
set. Deliberately written in plain dict/loop style so a divergence from the
Spark engine cannot share a root cause with it.
"""

from __future__ import annotations

import hashlib
import re
from collections import Counter, defaultdict
from datetime import datetime, timezone

import pyarrow.parquet as pq

ASSIST_RE = re.compile(r"^The ([a-z_]+) of (.+?) is (.+)\.$")
MENTION_RE = re.compile(r"^(?:Tell me about|What do you know about) (.+?)[.?]$")
ENTITY_RE = re.compile(r"&(nbsp|amp|quot|lt|gt);")
ASIDE_RE = re.compile(r"\([^)]*\)|\[[^\]]*\]")
NONWORD_RE = re.compile(r"[^a-z0-9]+")
WS_RE = re.compile(r"\s+")

LIST_RE = re.compile(r"^\{.+\|.+\}$")
# spec constants duplicated on purpose (independent implementation); keep in
# sync with functions/units.unit_alternation() and typeguess.DATE_RE
UNIT_RE = re.compile(
    r"^-?[0-9][0-9,]*(\.[0-9]+)? "
    r"(acre|musd|sqft|sqyd|cm2|km2|mi2|min|mm2|nmi|cm|dm|ft|ha|in|kg|km|lb"
    r"|m2|mg|mi|mm|ms|oz|st|yd|d|g|h|m|s|t)$"
)
DATE_RE = re.compile(
    r"^([0-9]{2}/[0-9]{2}/[0-9]{4}|[0-9]{4}-[0-9]{2}-[0-9]{2}"
    r"|[0-9]{2}\.[0-9]{2}\.[0-9]{4}|[0-9]{4}/[0-9]{2}/[0-9]{2}"
    r"|[0-9]{2}-[0-9]{2}-[0-9]{4}|[0-9]{8}"
    r"|[0-9]{2} [a-z]{3,} [0-9]{4}|[a-z]{4,} [0-9]{2} [0-9]{4}"
    r"|[0-9]{2}[-./][a-z]{4,}[-./][0-9]{4}"
    r"|[0-9]{2}[-./][0-9]{4}"
    r"|[0-9]{4})$"
)
# bare-4-digit-year and "only 'true' is bool" quirks — see typeguess.py
BOOL_RE = re.compile(r"^true$")
LINK_RE = re.compile(r"^(https?://|www\.)")
COORD_RE = re.compile(r"^-?[0-9]+\.[0-9]+, -?[0-9]+\.[0-9]+$")
NUM_RE = re.compile(r"^-?[0-9][0-9,]*(\.[0-9]+)?$")
NUM_PREFIX_RE = re.compile(r"^(-?[0-9][0-9,]*(\.[0-9]+)?)")


def norm_key(s: str) -> str:
    c = s.lower()
    c = ENTITY_RE.sub(" ", c)
    c = ASIDE_RE.sub(" ", c)
    c = NONWORD_RE.sub(" ", c)
    return " ".join(sorted(t for t in c.strip().split(" ") if t))


def display(s: str) -> str:
    c = ENTITY_RE.sub(" ", s)
    c = ASIDE_RE.sub(" ", c)
    return WS_RE.sub(" ", c).strip()


def guess_type(v: str) -> str:
    lc = v.strip().lower()
    short = len(lc) <= 50
    if LIST_RE.match(lc):
        return "list"
    if short and UNIT_RE.match(lc):
        return "unit"
    if short and DATE_RE.match(lc):
        return "date"
    if short and BOOL_RE.match(lc):
        return "bool"
    if LINK_RE.match(lc):
        return "link"
    if short and COORD_RE.match(lc):
        return "coordinate"
    if short and NUM_RE.match(lc):
        return "numeric"
    return "string"


def parse_date(v: str):
    # same order as resolve.DATE_FORMATS (incl. the MM/dd → dd/MM fallback)
    for fmt in (
        "%m/%d/%Y", "%d/%m/%Y", "%Y-%m-%d", "%Y/%m/%d", "%d.%m.%Y",
        "%d-%m-%Y", "%Y%m%d", "%d %b %Y", "%d %B %Y", "%B %d %Y",
        "%d-%B-%Y", "%d.%B.%Y", "%d/%B/%Y", "%m.%Y", "%m-%Y", "%m/%Y",
        "%Y",
    ):
        try:
            return datetime.strptime(v, fmt)
        except ValueError:
            continue
    return None


def extract_facts(path: str) -> list[dict]:
    tbl = pq.read_table(path).to_pylist()
    facts = []
    for row in tbl:
        if row["role"] == "assistant":
            m = ASSIST_RE.match(row["text"])
            if m:
                facts.append(
                    dict(ts=row["ts"], pred=m.group(1), surface=m.group(2), obj=m.group(3))
                )
        elif row["role"] == "tool":
            kvs = [kv.split("=", 1) for kv in row["text"].split("; ")]
            ent = next((v for k, v in kvs if k == "entity"), None)
            if ent is not None:
                for k, v in kvs:
                    if k != "entity":
                        facts.append(dict(ts=row["ts"], pred=k, surface=ent, obj=v))
    for f in facts:
        f["subj"] = norm_key(f["surface"])
        f["dtype"] = guess_type(f["obj"])
    return facts


def merge_map(facts: list[dict]) -> dict[str, str]:
    ev = {(f["pred"], f["subj"], f["obj"]) for f in facts}
    sizes = Counter(p for p, _, _ in ev)
    by_so = defaultdict(set)
    for p, s, o in ev:
        by_so[(s, o)].add(p)
    shared = Counter()
    for preds in by_so.values():
        ps = sorted(preds)
        for i in range(len(ps)):
            for j in range(i + 1, len(ps)):
                shared[(ps[i], ps[j])] += 1
    mapping = {}
    for (p1, p2), sh in shared.items():
        cont = round(sh / min(sizes[p1], sizes[p2]), 4)
        if cont >= 0.7 and sh >= 2:
            n1, n2 = sizes[p1], sizes[p2]
            winner = p1 if (n1 > n2 or (n1 == n2 and p1 < p2)) else p2
            loser = p2 if winner == p1 else p1
            if loser not in mapping or winner < mapping[loser]:
                mapping[loser] = winner
    return mapping


def fuzzy_label_map(facts: list[dict]) -> dict[str, str]:
    """subj_norm → component-min subj_norm via the SAME md5-MinHash-LSH
    blocking (8 hashes, 4 bands of 2) + exact token-jaccard ≥ 0.5 verify the
    engine uses (fuzzy.lsh_verified_pairs, i.e. the canonical.minhash_lsh_pairs
    kernel, + connected components), re-implemented with dict/union-find."""
    labels = sorted({f["subj"] for f in facts})
    toks = {l: set(t for t in l.split(" ") if t) for l in labels}
    buckets = defaultdict(list)
    for l in labels:
        ts = toks[l]
        if not ts:
            continue
        sig = [
            min(hashlib.md5(f"{j}:{t}".encode()).hexdigest()[:16] for t in ts)
            for j in range(8)
        ]
        for b in range(4):
            buckets[(b, sig[2 * b], sig[2 * b + 1])].append(l)
    parent = {l: l for l in labels}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for ls in buckets.values():
        for i in range(len(ls)):
            for j in range(i + 1, len(ls)):
                a, b = ls[i], ls[j]
                inter = len(toks[a] & toks[b])
                union = len(toks[a] | toks[b])
                if union and round(inter / union, 4) >= 0.5:
                    ra, rb = find(a), find(b)
                    if ra != rb:
                        # min-id root = the engines' component semantics
                        parent[max(ra, rb)] = min(ra, rb)
    return {l: find(l) for l in labels}


def triples(path: str, fuzzy: bool = False) -> set[tuple[str, str, str, str]]:
    """(subj, pred, obj, obj_dtype) set per the engine's full-pipeline spec.
    ``fuzzy=True`` relabels subjects through the fuzzy-canonical tier
    (cluster label = min exact-tier label over cluster members), matching
    run_pipeline(fuzzy_canonical=True)."""
    facts = extract_facts(path)
    mm = merge_map(facts)
    for f in facts:
        f["pred_c"] = mm.get(f["pred"], f["pred"])

    # canonical label per subj_norm: min display form over fact surfaces
    labels = defaultdict(list)
    for f in facts:
        labels[f["subj"]].append(display(f["surface"]))
    canon = {k: min(v) for k, v in labels.items()}
    if fuzzy:
        fm = fuzzy_label_map(facts)
        members = defaultdict(list)
        for l in canon:
            members[fm[l]].append(l)
        canon = {
            l: min(canon[m] for m in ms)
            for ms in members.values()
            for l in ms
        }

    # per-(subj, pred) majority dtype, ties → dtype asc
    groups = defaultdict(list)
    for f in facts:
        groups[(f["subj"], f["pred_c"])].append(f)
    pred_dtype_votes = defaultdict(Counter)
    for f in facts:
        pred_dtype_votes[f["pred_c"]][f["dtype"]] += 1
    pred_dtype = {
        p: min(c.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        for p, c in pred_dtype_votes.items()
    }

    out = set()
    for (subj, pred), fs in groups.items():
        c = Counter(f["dtype"] for f in fs)
        dmaj = min(c.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        fs_sorted = sorted(fs, key=lambda f: f["ts"])
        obj = None
        if dmaj == "string":
            # first value to reach the final max count
            cnt = Counter(f["obj"] for f in fs)
            mx = max(cnt.values())
            last_ts = {}
            for f in fs_sorted:
                last_ts[f["obj"]] = f["ts"]
            cand = [v for v in cnt if cnt[v] == mx]
            obj = min(cand, key=lambda v: (last_ts[v], v))
        elif dmaj in ("numeric", "unit"):
            nums = []
            for f in fs_sorted:
                m = NUM_PREFIX_RE.match(f["obj"])
                if m:
                    nums.append((float(m.group(1).replace(",", "")), f["ts"]))
            if nums:
                nums.sort()
                n = len(nums)
                idx = 0 if n == 1 else (n // 2 if n % 2 == 0 else n // 2 + 1)
                obj = repr(nums[idx][0])
        elif dmaj == "date":
            ds = [(f["ts"], parse_date(f["obj"])) for f in fs_sorted]
            ds = [(t, d) for t, d in ds if d is not None]
            if ds:
                n = len(ds)
                last = max(ds, key=lambda td: td[0])[1]
                epoch = int(last.replace(tzinfo=timezone.utc).timestamp())
                obj = str(int(epoch / n))  # truncation toward zero, like the engines
        else:
            obj = fs_sorted[0]["obj"]
        if obj is not None:
            out.add((canon[subj], pred, obj, pred_dtype[pred]))
    return out
