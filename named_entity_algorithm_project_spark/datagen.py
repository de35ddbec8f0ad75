"""Deterministic synthetic transcripts generator (FIXTURES.md §1).

Seeded (default 42) and pure-Python so the pandas oracle can compute the
expected mention/triple sets on the exact same rows. Text mixes:

* domain gazetteer terms (dictionaries.DOMAIN_TERM_CATEGORIES)
* property keywords + value+unit spans (VALUE_WITH_UNIT-shaped)
* ``expansion (ABBR)`` abbreviation patterns
* alias variants of the same entity (dash/space/plural)
* filler prose, empty turns, and some very long turns

Conversation sizes are zipfian to exercise skew, `ts` is monotone within a
conversation, roles cycle user/assistant/tool.
"""

from __future__ import annotations

import datetime as dt
import random
from typing import List, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

TRANSCRIPTS_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), False),
    ]
)

_MATERIALS = [
    "P3HT", "PCBM", "PEDOT:PSS", "MAPbI3", "TiO2", "ZnO", "ITO2",
    "PM6", "Y6", "PTB7", "C60", "SnO2",
]
_ALIAS_FAMILIES = [
    ["organic photovoltaic", "organic photovoltaics", "organic solar cell", "OPV"],
    ["organic field-effect transistor", "organic field effect transistor", "OFET"],
    ["bulk heterojunction", "bulk heterojunctions", "BHJ"],
    ["dye-sensitized solar cell", "dye sensitized solar cells", "DSSC"],
    ["perovskite solar cell", "perovskite solar cells"],
]
_PROPERTIES = [
    "power conversion efficiency", "mobility", "conductivity", "bandgap",
    "fill factor", "stability", "thickness", "open-circuit voltage",
]
_ABBREV_SEEDS = [
    ("power conversion efficiency", "PCE"),
    ("open-circuit voltage", "VOC"),
    ("field-effect transistor", "FET"),
    ("atomic force microscopy", "AFM"),
]
_UNITS = ["%", "V", "mA", "nm", "cm", "K", "Pa", "Hz", "kg", "mol"]
_FILLER = (
    "the device performance improved substantially after treatment and "
    "careful optimization of processing conditions under inert atmosphere"
).split()
_ROLES = ["user", "assistant", "tool"]
_TOOLS = ["search", "calculator", "plotter", None]

# --- vocabulary scaling (linking-stage stressor) ---------------------------
# vocab_scale=1 (the default, and what every pinned oracle/query fixture
# uses) draws from the base pools above and produces BIT-IDENTICAL rows to
# the original generator. vocab_scale>1 widens the pools with synthetic
# alias families — each synthetic material exists in FOUR surface forms:
#
#   dash    "pm6-v00001"    (the canonical spelling)
#   plural  "pm6-v00001s"   (trailing-s morphology — high char-n-gram
#                            overlap, like the base pool's plural aliases;
#                            SHOULD merge under the reference gates)
#   upper   "PM6-V00001"    (case variant — TfidfVectorizer lowercases, so
#                            cosine is exactly 1.0; SHOULD always merge)
#   fused   "pm6v00001"     (dash dropped — measured cosine sits BELOW the
#                            0.85 large-corpus gate even under the exact
#                            join, so these are the planted HARD NEGATIVES,
#                            not mergeable ground truth)
#
# plus synthetic abbreviation definitions, so a large corpus carries the
# >50k unique linkable norms that engage the AUTO df-cap
# (build_linking_tables) instead of recycling a toy vocabulary.
# planted_alias_pairs()/planted_hard_pairs() expose the ground truth for
# the recall measurements (scripts/linking_scale_run.py, test_linking).

_POOL_CACHE: dict = {}

#: the planted power-law hub (scripts/skew_bench.py): with
#: ``hub_rate > 0`` this ONE norm lands in ~hub_rate of all non-empty
#: turns, concentrating a constant fraction of every mention-keyed
#: aggregation on a single key — the end-to-end skew stressor for the
#: linking pair-sum and components aggregations. An existing gazetteer material so
#: the detector extracts it with no special-casing.
HUB_NORM = "P3HT"


def _pools(vocab_scale: int):
    """(materials, alias_families, abbrev_seeds) for a scale level."""
    if vocab_scale <= 1:
        return _MATERIALS, _ALIAS_FAMILIES, _ABBREV_SEEDS
    cached = _POOL_CACHE.get(vocab_scale)
    if cached is not None:
        return cached
    materials = list(_MATERIALS)
    for dash, plural, upper, fused in _planted_material_forms(vocab_scale):
        materials.extend((dash, plural, upper, fused))
    n_abbr = min(5000, 4 * (vocab_scale - 1))
    abbrevs = list(_ABBREV_SEEDS) + [
        (f"transport factor {i}", f"TF{i}") for i in range(n_abbr)
    ]
    out = (materials, _ALIAS_FAMILIES, abbrevs)
    _POOL_CACHE[vocab_scale] = out
    return out


def _planted_material_forms(vocab_scale: int):
    """(dash, plural, upper, fused) per synthetic material index."""
    stems = [m.lower().replace(":", "").replace("-", "") for m in _MATERIALS]
    for i in range(len(_MATERIALS) * (vocab_scale - 1)):
        stem = stems[i % len(stems)]
        dash = f"{stem}-v{i:05d}"
        yield dash, dash + "s", dash.upper(), f"{stem}v{i:05d}"


def planted_alias_pairs(vocab_scale: int) -> List[Tuple[str, str]]:
    """MERGEABLE ground truth for linking quality at scale: per synthetic
    material, the (dash, plural) and (dash, upper) surface pairs — the
    morphology/case variation the reference's TF-IDF gates DO merge (case
    variants score exactly 1.0; plural variants score high).
    scripts/linking_scale_run.py reports direct-edge recall over the pairs
    whose both spellings were extracted; tests/test_linking.py pins that
    the AUTO df-cap does not lose them relative to the exact join."""
    if vocab_scale <= 1:
        return []
    out: List[Tuple[str, str]] = []
    for dash, plural, upper, _fused in _planted_material_forms(vocab_scale):
        out.append((dash, plural))
        out.append((dash, upper))
    return out


def planted_hard_pairs(vocab_scale: int) -> List[Tuple[str, str]]:
    """HARD-NEGATIVE ground truth: the (dash, fused) pairs whose char-gram
    cosine sits below the large-corpus gate even under the EXACT join
    (measured — dropping the dash destroys the boundary grams). Reported
    separately so the recall number for mergeable pairs is not diluted by
    pairs the reference semantics themselves never merge."""
    if vocab_scale <= 1:
        return []
    return [
        (dash, fused)
        for dash, _plural, _upper, fused in _planted_material_forms(vocab_scale)
    ]


def planted_pair_edge_stats(
    spark: SparkSession,
    norms: DataFrame,
    edges: DataFrame,
    pairs: List[Tuple[str, str]],
) -> Tuple[int, int]:
    """(n_present, n_linked) for a ground-truth pair list against a linking
    result: how many pairs have BOTH norms in the extracted vocabulary, and
    how many of those are a direct (least, greatest) edge. Shared by
    scripts/linking_scale_run.py and the recall test so the 'planted
    recall' definition cannot drift between them."""
    from pyspark.sql import functions as F

    if not pairs:
        return 0, 0
    from .functions.localrel import local_df

    pairs_df = local_df(spark, pairs, "p1 string, p2 string").select(
        F.least("p1", "p2").alias("src"), F.greatest("p1", "p2").alias("dst")
    )
    norms = norms.select("norm")
    present = (
        pairs_df.join(
            norms.withColumnRenamed("norm", "src"), "src", "left_semi"
        ).join(norms.withColumnRenamed("norm", "dst"), "dst", "left_semi")
    ).localCheckpoint(eager=True)
    n_present = present.count()
    n_hit = present.join(edges, ["src", "dst"], "left_semi").count()
    return n_present, n_hit


def _make_turn_text(
    rng: random.Random, vocab_scale: int = 1, hub_rate: float = 0.0
) -> str:
    materials, alias_families, abbrev_seeds = _pools(vocab_scale)
    parts: List[str] = []
    n_sentences = rng.randint(1, 3)
    for _ in range(n_sentences):
        kind = rng.random()
        if kind < 0.25:
            prop = rng.choice(_PROPERTIES)
            value = f"{rng.randint(1, 999) / 10.0:g} {rng.choice(_UNITS)}"
            mat = rng.choice(materials)
            parts.append(
                f"The {prop} of {mat} reached {value} in this experiment."
            )
        elif kind < 0.40:
            expansion, abbr = rng.choice(abbrev_seeds)
            parts.append(
                f"We evaluated the {expansion} ({abbr}) across samples."
            )
        elif kind < 0.60:
            family = rng.choice(alias_families)
            variant = rng.choice(family)
            parts.append(
                f"Results for the {variant} platform were reproducible."
            )
        elif kind < 0.75:
            mat = rng.choice(materials)
            prop = rng.choice(_PROPERTIES)
            parts.append(f"{mat} exhibits notable {prop} under bias.")
        else:
            words = [rng.choice(_FILLER) for _ in range(rng.randint(6, 14))]
            parts.append(" ".join(words) + ".")
    # the rng draw happens ONLY when the dial is on, so hub_rate=0 (the
    # default, and every pinned fixture) stays bit-identical to the
    # original generator
    if hub_rate > 0.0 and rng.random() < hub_rate:
        prop = rng.choice(_PROPERTIES)
        parts.append(f"{HUB_NORM} exhibits notable {prop} under bias.")
    return " ".join(parts)


def conv_rows(
    conv_idx: int,
    seed: int = 42,
    empty_turn_rate: float = 0.05,
    long_turn_rate: float = 0.01,
    vocab_scale: int = 1,
    hub_rate: float = 0.0,
) -> List[Tuple[str, int, str, str, str, dt.datetime]]:
    """Rows for ONE conversation, seeded per (seed, conv_idx) — the same
    function runs driver-side (tests/oracle) and executor-side (scaled
    generation), producing identical rows regardless of partitioning."""
    rng = random.Random(f"{seed}-{conv_idx}")
    conv_id = f"conv-{seed}-{conv_idx:06d}"
    # zipf-ish conversation length: most short, few long (skew)
    r = rng.random()
    n_turns = min(max(1, int(2 / (r + 0.05))), 40)
    ts = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc) + dt.timedelta(
        minutes=conv_idx
    )
    rows = []
    for t in range(n_turns):
        role = _ROLES[t % 3]
        tool = rng.choice(_TOOLS) if role == "tool" else None
        u = rng.random()
        if u < empty_turn_rate:
            text = ""
        elif u < empty_turn_rate + long_turn_rate:
            text = " ".join(
                _make_turn_text(rng, vocab_scale, hub_rate) for _ in range(40)
            )
        else:
            text = _make_turn_text(rng, vocab_scale, hub_rate)
        ts = ts + dt.timedelta(seconds=rng.randint(5, 120))
        rows.append((conv_id, t, role, text, tool, ts))
    return rows


def generate_rows(
    n_convs: int = 100,
    seed: int = 42,
    vocab_scale: int = 1,
    hub_rate: float = 0.0,
) -> List[Tuple[str, int, str, str, str, dt.datetime]]:
    rows = []
    for c in range(n_convs):
        rows.extend(
            conv_rows(c, seed, vocab_scale=vocab_scale, hub_rate=hub_rate)
        )
    return rows


def generate_transcripts(
    spark: SparkSession,
    n_convs: int = 100,
    seed: int = 42,
    n_partitions: int = None,
    vocab_scale: int = 1,
    hub_rate: float = 0.0,
) -> DataFrame:
    """Executor-side generation: spark.range over conversation indices,
    mapInPandas expands each index into its turns. Scales to millions of
    conversations without driver-side serialization; identical rows to
    :func:`generate_rows` for the same (n_convs, seed)."""
    import pandas as pd

    parts = n_partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions", "32")
    )

    def _expand(batches):
        for pdf in batches:
            out = []
            for conv_idx in pdf["id"]:
                out.extend(
                    conv_rows(
                        int(conv_idx),
                        seed,
                        vocab_scale=vocab_scale,
                        hub_rate=hub_rate,
                    )
                )
            yield pd.DataFrame(
                out,
                columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"],
            )

    return (
        spark.range(n_convs)
        .repartition(parts)
        .mapInPandas(_expand, TRANSCRIPTS_SCHEMA)
    )
