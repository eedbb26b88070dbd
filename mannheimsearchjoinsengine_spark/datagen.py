"""Deterministic synthetic transcript generator (FIXTURES.md §F1).

The north-rule input is an Iceberg table of multi-turn transcripts
``(conv_id, turn_idx, role, text, tool, ts)``.  The driver's testdata dirs
only ship TPC-H-ish tables, so each scale factor gets a transcript table
synthesized HERE, deterministically (seed 42, pure stdlib ``random``), and
cached as parquet under ``<checkout>/data/transcripts/<sf-tag>/``.  Both the
Spark pipeline and the DuckDB oracle SQL read the *same* parquet file, so
correctness comparisons are exact.

Content model mirrors the reference's web-table corpus (entity-label key
column + typed attribute columns, SURVEY.md §1; ``model/Table.java:20-34``):

* 3 entity classes (city / person / company) × 50 canonical names.
* Each entity has surface-form VARIANTS — case change, token reorder,
  appended parenthetical — exercising the normalizer
  (``schemamatching/label/StringNormalizer.java:39-141``).  ~10% of surfaces
  get noise (trailing ``&nbsp;`` / bracketed aside) exercising
  ``IO/ConvertFileToTable.simpleStringNormalization:1327-1353``.
* Facts cover every reference dtype that survives in free text
  (``TableProcessor/ColumnTypeGuesser.java:41-97``): numeric (with commas),
  unit (``500 km2``), date (3 formats, ``parsers/DateUtil.java:179-217``),
  bool, link, coordinate, plain string, list literal ``{a|b}``
  (``IO/ConvertFileToTable.java:1022-1026``).
* ~15% of fact assertions use a conflicting alternate value (voting /
  median resolution parity, ``datafusion/DuplicateResolver.java:294-354``);
  two predicate synonym pairs (``population``/``pop``,
  ``headquarters``/``hq``) exercise schema consolidation
  (``schemamatching/instance/InstanceBasedColumnComparer.java:76-206``).
* Skew: one hot entity per class appears in ~20% of conversations; the
  first conversation is extra long — exercises the skew handling (df-caps,
  map-side partial aggregation, AQE skew join).

Turn grammar (THE extraction contract — see operators/extract.py):

* user      : ``Tell me about {S}.`` or ``What do you know about {S}?``
* assistant : ``The {pred} of {S} is {value}.``  (exactly one fact)
* tool      : ``entity={S}; {p1}={v1}; {p2}={v2}``  (tool col = tool name)
"""

from __future__ import annotations

import os
import random
import tempfile
from datetime import datetime, timedelta

import pyarrow as pa
import pyarrow.parquet as pq

SEED = 42
DATAGEN_VERSION = 7  # bump when the grammar changes → regenerates caches
# Small row groups so Spark can split the single parquet file into many scan
# tasks (a 1M-row default row group caps scan parallelism at ~2 tasks).
ROW_GROUP_SIZE = 50_000
# the checkout the package was imported from: generated inputs and the
# default stage ledgers live under its data/ directory
REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if not os.path.isdir(REPO_ROOT):
    # a --py-files zip has no checkout around it: use the working directory
    REPO_ROOT = os.getcwd()
REPO_DATA = os.environ.get("SJSPARK_DATA_DIR", os.path.join(REPO_ROOT, "data", "transcripts"))
EPOCH = datetime(2026, 1, 1, 0, 0, 0)
TICK_SECONDS = 37

CITY_PRE = ["North", "South", "East", "West", "Port", "Lake", "Fort", "New", "Old", "Mount"]
CITY_SUF = ["Aldenburg", "Brightwater", "Carveth", "Dunmore", "Eastvale"]
PERSON_FIRST = ["Alice", "Boris", "Carla", "Dmitri", "Elena", "Farid", "Greta", "Hiro", "Ines", "Jonas"]
PERSON_LAST = ["Keller", "Lindqvist", "Moreau", "Novak", "Okafor"]
COMPANY_BASE = ["Acme", "Globex", "Initech", "Umbra", "Vertex", "Zenith", "Quantum", "Helios", "Nimbus", "Orchid"]
COMPANY_SUF = ["Corp", "Labs", "Industries", "Group", "Systems"]

MOTTO_WORDS = ["forward", "unity", "strength", "harbor", "light", "progress", "honor", "trade"]
SKILL_WORDS = ["piloting", "analysis", "rhetoric", "carving", "logistics", "cartography"]
DISTRICT_WORDS = ["harborside", "oldtown", "midrise", "gardens", "foundry", "heights"]
TOOLS = ["search", "lookup", "calc"]

# emission formats — the day-grain subset of the engine's parse cascade
# (resolve.DATE_FORMATS, from parsers/DateUtil.java:45-123). %d/%m/%Y with
# day ≤ 12 is read month-first by BOTH engines (the reference's documented
# MM/dd-priority quirk); %B with a 3-letter month (May) falls through the
# date type-gate to string — also reference behavior.
DATE_FORMATS = [
    "%m/%d/%Y", "%Y-%m-%d", "%d.%m.%Y", "%Y/%m/%d", "%d-%m-%Y", "%Y%m%d",
    "%d %b %Y", "%d %B %Y", "%B %d %Y", "%m.%Y", "%d/%m/%Y",
    "%d-%B-%Y", "%d/%B/%Y", "%m-%Y", "%m/%Y",
]
AREA_UNITS = ["km2", "mi2", "ha"]
# website suffixes: mostly plain TLDs plus multi-label public suffixes so
# the F13 eTLD+1 path (functions/domains.py) is discriminating — the naive
# last-two-labels rule gets co.uk/com.au/eu.com URLs wrong
SITE_SUFFIXES = ["com", "org", "net", "co.uk", "com.au", "co.jp", "eu.com"]


def _entity_catalog():
    """Build the deterministic entity catalog: 150 entities with facts.

    Returns list of dicts: {name, cls, surfaces, facts: [(pred, value, alt)]}.
    Uses its own RNG stream so the catalog is identical at every scale.
    """
    rng = random.Random(SEED)
    cities = [f"{p} {s}" for p in CITY_PRE for s in CITY_SUF]
    persons = [f"{f} {l}" for f in PERSON_FIRST for l in PERSON_LAST]
    companies = [f"{b} {s}" for b in COMPANY_BASE for s in COMPANY_SUF]
    catalog = []
    for cls, names in (("city", cities), ("person", persons), ("company", companies)):
        for name in names:
            toks = name.split(" ")
            surfaces = [
                name,
                name.upper(),
                name.lower(),
                " ".join(reversed(toks)),
                f"{name} ({cls})",
            ]
            # near-miss surfaces: normalize to a DIFFERENT key whose token
            # set overlaps the entity's at jaccard ≥ 0.5 — the fuzzy tier's
            # raw material (exact normalization cannot unify these). The
            # company pair (base, name+" Inc") plus the canonical name forms
            # a token-jaccard CHAIN base—name—inc (1/2 and 2/3, but 1/3
            # base↔inc) — exercises transitive CC, and shared bases
            # ("Acme" of Acme Corp/Acme Labs) create realistic over-merges.
            if cls == "city":
                nearmiss = [f"{name} City"]
            elif cls == "person":
                nearmiss = [f"{name} Jr"]
            else:
                nearmiss = [toks[0], f"{name} Inc"]
            slug = name.lower().replace(" ", "")
            facts = []
            if cls == "city":
                # keep < 1e7: Spark double→string uses E-notation at ≥1e7,
                # DuckDB doesn't — would break oracle value-hash parity
                pop = rng.randint(10_000, 8_999_999)
                facts.append(("population", f"{pop:,}", f"{pop + rng.randint(1, 999):,}"))
                area = rng.randint(20, 9000)
                au = rng.choice(AREA_UNITS)
                facts.append(("area", f"{area} {au}", f"{area + rng.randint(1, 50)} {au}"))
                d = datetime(rng.randint(1100, 1990), rng.randint(1, 12), rng.randint(1, 28))
                fmt = rng.choice(DATE_FORMATS)
                facts.append(("founded", d.strftime(fmt), d.replace(year=d.year + 1).strftime(fmt)))
                facts.append(("capital", rng.choice(["true", "false"]), "false"))
                lat, lon = rng.uniform(-60, 60), rng.uniform(-150, 150)
                facts.append(("location", f"{lat:.4f}, {lon:.4f}", f"{lat + 0.5:.4f}, {lon:.4f}"))
                facts.append(("motto", " ".join(rng.sample(MOTTO_WORDS, 2)), rng.choice(MOTTO_WORDS)))
                facts.append(("districts", "{%s}" % "|".join(rng.sample(DISTRICT_WORDS, 3)), "{%s}" % "|".join(rng.sample(DISTRICT_WORDS, 2))))
            elif cls == "person":
                age = rng.randint(18, 90)
                facts.append(("age", str(age), str(age + 1)))
                # near-miss NUMERIC synonym of age (comma-free: the typed
                # instance kernel parses it, scores ≈ 0.5·age/(age+1) ≥ 0.4
                # → merges under instance-based matching, NOT under exact
                # evidence overlap)
                facts.append(("years", str(age + 1), str(age)))
                h = rng.randint(150, 200)
                if rng.random() < 0.3:
                    facts.append(("height", f"{h / 100:.2f} m", f"{(h + 2) / 100:.2f} m"))
                else:
                    facts.append(("height", f"{h} cm", f"{h + 2} cm"))
                w = rng.randint(50, 110)
                facts.append(("weight", f"{w} kg", f"{w + 1} kg"))
                # ambiguous-"m" durations: the commute predicate's majority
                # family is time (70% "min"), so its "m" values must read as
                # MINUTES (unit_normalize predicate-context disambiguation —
                # the header-bracket analog, ColumnTypeGuesser.java:52-62);
                # height's "m" stays metre under its cm-majority.
                cm_ = rng.randint(10, 120)
                if rng.random() < 0.3:
                    facts.append(("commute", f"{cm_} m", f"{cm_ + 5} m"))
                else:
                    facts.append(("commute", f"{cm_} min", f"{cm_ + 5} min"))
                d = datetime(rng.randint(1930, 2005), rng.randint(1, 12), rng.randint(1, 28))
                fmt = rng.choice(DATE_FORMATS)
                facts.append(("born", d.strftime(fmt), d.replace(year=d.year - 1).strftime(fmt)))
                # date synonym of born in ANOTHER format: equal dates score
                # 0 under the reference's inverted diff/range date kernel —
                # the quirk keeps this pair UNmerged (oracle-pinned)
                fmt2 = rng.choice(DATE_FORMATS)
                facts.append(("birthdate", d.strftime(fmt2), d.replace(year=d.year - 1).strftime(fmt2)))
                facts.append(("active", rng.choice(["true", "false"]), "true"))
                facts.append(("birthplace", rng.choice(cities), rng.choice(cities)))
                facts.append(("skills", "{%s}" % "|".join(rng.sample(SKILL_WORDS, 2)), "{%s}" % "|".join(rng.sample(SKILL_WORDS, 3))))
            else:
                emp = rng.randint(50, 500_000)
                facts.append(("employees", f"{emp:,}", f"{emp + rng.randint(1, 99):,}"))
                # near-miss numeric synonym WITH grouping commas: the
                # reference's numeric kernel chokes on ',' (Double.valueOf
                # throws → exact-match fallback, scores 0) so this pair
                # must NOT merge — the comma quirk, oracle-pinned
                emp2 = emp + max(1, emp // 200)
                facts.append(("staff", f"{emp2:,}", f"{emp2 + 7:,}"))
                rev = rng.randint(1, 900)
                facts.append(("revenue", f"{rev} MUSD", f"{rev + 5} MUSD"))
                d = datetime(rng.randint(1900, 2020), rng.randint(1, 12), rng.randint(1, 28))
                fmt = rng.choice(DATE_FORMATS)
                facts.append(("founded", d.strftime(fmt), d.replace(year=d.year + 2).strftime(fmt)))
                facts.append(("public", rng.choice(["true", "false"]), "false"))
                facts.append(("headquarters", rng.choice(cities), rng.choice(cities)))
                suf = rng.choice(SITE_SUFFIXES)
                facts.append(("website", f"http://{slug}.{suf}", f"http://www.{slug}.{suf}"))
            catalog.append(
                {"name": name, "cls": cls, "surfaces": surfaces,
                 "nearmiss": nearmiss, "facts": facts}
            )
    return catalog


# predicate synonym emission: canonical pred -> (synonym, probability)
SYNONYMS = {"population": ("pop", 0.25), "headquarters": ("hq", 0.25)}


def sf_tag_of_dir(sf_dir: str) -> str:
    base = os.path.basename(os.path.normpath(sf_dir))
    return base if base.startswith("sf") else "sf0.001"


def turns_for_tag(tag: str) -> int:
    try:
        sf = float(tag[2:])
    except ValueError:
        sf = 0.001
    return max(500, int(sf * 1_000_000))


def generate_transcripts(n_turns: int) -> pa.Table:
    """Generate >= n_turns turns; deterministic for a given n_turns target."""
    catalog = _entity_catalog()
    rng = random.Random(SEED + 1)
    by_cls: dict[str, list] = {}
    for e in catalog:
        by_cls.setdefault(e["cls"], []).append(e)
    hot = {cls: ents[0] for cls, ents in by_cls.items()}

    conv_ids, turn_idxs, roles, texts, tools, tss = [], [], [], [], [], []
    total = 0
    conv_no = 0

    def pick_surface(ent, allow_entity_noise=True):
        # In tool turns the payload is split on '; ' — a trailing '&nbsp;'
        # would donate its ';' to the delimiter, so tool surfaces only get
        # bracket noise. Same RNG draws either way (determinism).
        # ~6% of picks use a NEAR-MISS surface (token drop / extension):
        # normalizes to a different key, linkable only by the fuzzy tier.
        if rng.random() < 0.06:
            s = rng.choice(ent["nearmiss"])
        else:
            s = rng.choice(ent["surfaces"])
        r = rng.random()
        if r < 0.05:
            s = s + ("&nbsp;" if allow_entity_noise else " [sic]")
        elif r < 0.10:
            s = s + " [sic]"
        return s

    while total < n_turns:
        conv_id = f"conv-{conv_no:06d}"
        if conv_no == 0:
            length = min(5000, max(60, n_turns // 20))
        else:
            length = rng.randint(6, 40)
        ents = []
        for _ in range(rng.randint(1, 3)):
            if rng.random() < 0.20:
                ents.append(hot[rng.choice(["city", "person", "company"])])
            else:
                ents.append(rng.choice(catalog))
        for ti in range(length):
            ent = ents[rng.randrange(len(ents))]
            if ti == 0:
                role = "user"
            else:
                r = rng.random()
                role = "user" if r < 0.25 else ("assistant" if r < 0.80 else "tool")
            tool = None
            if role == "user":
                s = pick_surface(ent)
                text = rng.choice([f"Tell me about {s}.", f"What do you know about {s}?"])
            elif role == "assistant":
                pred, val, alt = rng.choice(ent["facts"])
                if pred in SYNONYMS and rng.random() < SYNONYMS[pred][1]:
                    pred = SYNONYMS[pred][0]
                v = alt if rng.random() < 0.15 else val
                text = f"The {pred} of {pick_surface(ent)} is {v}."
            else:
                tool = rng.choice(TOOLS)
                pairs = rng.sample(ent["facts"], min(2, len(ent["facts"])))
                kvs = [f"entity={pick_surface(ent, allow_entity_noise=False)}"]
                for pred, val, alt in pairs:
                    if pred in SYNONYMS and rng.random() < SYNONYMS[pred][1]:
                        pred = SYNONYMS[pred][0]
                    v = alt if rng.random() < 0.15 else val
                    kvs.append(f"{pred}={v}")
                text = "; ".join(kvs)
            conv_ids.append(conv_id)
            turn_idxs.append(ti)
            roles.append(role)
            texts.append(text)
            tools.append(tool)
            tss.append(EPOCH + timedelta(seconds=TICK_SECONDS * total))
            total += 1
        conv_no += 1

    return pa.table(
        {
            "conv_id": pa.array(conv_ids, pa.string()),
            "turn_idx": pa.array(turn_idxs, pa.int32()),
            "role": pa.array(roles, pa.string()),
            "text": pa.array(texts, pa.string()),
            "tool": pa.array(tools, pa.string()),
            "ts": pa.array(tss, pa.timestamp("us")),
        }
    )


def transcripts_path(sf_dir: str) -> str:
    return os.path.join(
        REPO_DATA, f"v{DATAGEN_VERSION}", sf_tag_of_dir(sf_dir), "transcripts.parquet"
    )


def ensure_transcripts(sf_dir: str) -> str:
    """Generate-and-cache the transcript parquet for a testdata sf dir.

    Atomic write (tmp + rename) so concurrent callers are safe.
    Returns the parquet path — readable by both Spark and DuckDB.
    """
    path = transcripts_path(sf_dir)
    if os.path.exists(path):
        return path
    os.makedirs(os.path.dirname(path), exist_ok=True)
    table = generate_transcripts(turns_for_tag(sf_tag_of_dir(sf_dir)))
    # leading "." hides the in-flight file from Spark's directory listing
    # (the transcripts dir doubles as a file-source STREAM input; a visible
    # half-written parquet polled mid-generation would surface as all-null
    # rows)
    fd, tmp = tempfile.mkstemp(
        dir=os.path.dirname(path), prefix=".tmp", suffix=".parquet.tmp"
    )
    os.close(fd)
    try:
        pq.write_table(table, tmp, row_group_size=ROW_GROUP_SIZE)
        os.replace(tmp, path)
    finally:
        if os.path.exists(tmp):
            os.remove(tmp)
    return path
