"""Domain dictionaries, label schema, and regex patterns.

These are the *data* the reference pipeline computes with — reproduced so the
emitted (subj, pred, obj) triple set can match the reference extractor.
Citations point at /root/reference/app.py.

All dictionaries are small; on the Spark side they ship inside UDF closures
(an implicit broadcast) or as broadcast-joined dimension tables.
"""

from __future__ import annotations

import re

# --- Label schema (app.py:540-550, fixed statically; no runtime model-config
# override — the reference's dynamic `apply_model_label_schema` collapses to a
# constant because our mention detector is deterministic).
MODEL_ID2LABEL = {
    "0": "INORGANIC",
    "1": "MATERIAL_AMOUNT",
    "2": "MONOMER",
    "3": "O",
    "4": "ORGANIC",
    "5": "POLYMER",
    "6": "POLYMER_FAMILY",
    "7": "PROP_NAME",
    "8": "PROP_VALUE",
}
ENTITY_TYPES = sorted(set(MODEL_ID2LABEL.values()))
#: The value types: numeric property values and material amounts. They are
#: the objects of has_value triples and never link (app.py:3256).
VALUE_TYPES = ("PROP_VALUE", "MATERIAL_AMOUNT")
LABEL2ID = {label: int(idx) for idx, label in MODEL_ID2LABEL.items()}

# app.py:603
LABEL_PREFIX_PATTERN = re.compile(r"^LABEL[_-]?(?P<idx>\d+)$", re.IGNORECASE)

# app.py:605-632
LEGACY_LABEL_ALIASES = {
    "AMOUNT": "MATERIAL_AMOUNT",
    "CARDINAL": "PROP_VALUE",
    "CHEM": "POLYMER",
    "CHEMICAL": "POLYMER",
    "INORG": "INORGANIC",
    "MATERIAL": "POLYMER",
    "MATERIALS": "POLYMER",
    "METHOD": "O",
    "METHOD/PROCESS": "O",
    "MISC": "O",
    "ORG": "ORGANIC",
    "OTHER": "O",
    "PROCESS": "O",
    "PRODUCT": "POLYMER",
    "POLYMERFAMILY": "POLYMER_FAMILY",
    "PROPERTY": "PROP_NAME",
    "PROP": "PROP_NAME",
    "PROPNAME": "PROP_NAME",
    "PROPVALUE": "PROP_VALUE",
    "PROP-VALUE": "PROP_VALUE",
    "PROP_VALUE": "PROP_VALUE",
    "PROP-NAME": "PROP_NAME",
    "PROP_NAME": "PROP_NAME",
    "QUANTITY": "MATERIAL_AMOUNT",
    "UNIT": "PROP_VALUE",
    "VALUE": "PROP_VALUE",
}

# --- Abbreviations (app.py:734-736)
ABBREVIATION_PATTERN = re.compile(
    r"(?P<expansion>[A-Za-z][A-Za-z0-9\-/\s]+?)\s*\((?P<abbr>[A-Z0-9]{2,})\)"
)

# --- Acronym / alias dictionaries (app.py:763-839)
ACRONYM_SET = {"opv", "ofet", "oect", "omiec", "bhj", "dssc", "perovskite"}
PROTECTED_TERMS = {"opv", "ofet", "oect", "omiec", "bhj", "dssc", "perovskite", "pksc"}

ACRONYM_CANONICAL_MAP = {
    "OPV": {
        "opv",
        "organic photovoltaic",
        "organic photovoltaics",
        "organic photovoltaic cell",
        "organic photovoltaic cells",
        "organic solar cell",
        "organic solar cells",
    },
    "OFET": {
        "ofet",
        "organic field effect transistor",
        "organic field-effect transistor",
        "organic field effect transistors",
        "organic field-effect transistors",
    },
    "OECT": {
        "oect",
        "organic electrochemical transistor",
        "organic electrochemical transistors",
    },
    "BHJ": {"bhj", "bulk heterojunction", "bulk heterojunctions"},
    "DSSC": {
        "dssc",
        "dye-sensitized solar cell",
        "dye sensitized solar cell",
        "dye-sensitized solar cells",
        "dye sensitized solar cells",
    },
    "PKSC": {"pksc", "perovskite solar cell", "perovskite solar cells"},
}
ACRONYM_LOOKUP = {
    phrase.strip().lower(): canonical
    for canonical, variants in ACRONYM_CANONICAL_MAP.items()
    for phrase in variants
}

DOMAIN_ALIAS_SUBSTRINGS = {
    "organic photovoltaic": "opv",
    "organic field effect transistor": "ofet",
    "organic field-effect transistor": "ofet",
    "organic electrochemical transistor": "oect",
    "organic mixed ionic electronic conductor": "omiec",
    "mixed ionic electronic conductor": "omiec",
    "bulk heterojunction": "bhj",
}

# --- Domain gazetteer (app.py:841-881)
DOMAIN_TERM_CATEGORIES = {
    "opv": "ORGANIC",
    "opvs": "ORGANIC",
    "organic photovoltaic": "ORGANIC",
    "organic photovoltaics": "ORGANIC",
    "organic photovoltaic cells": "ORGANIC",
    "ofet": "ORGANIC",
    "ofets": "ORGANIC",
    "organic field-effect transistor": "ORGANIC",
    "organic field effect transistor": "ORGANIC",
    "organic field-effect transistors": "ORGANIC",
    "organic field effect transistors": "ORGANIC",
    "oect": "ORGANIC",
    "oects": "ORGANIC",
    "organic electrochemical transistor": "ORGANIC",
    "organic electrochemical transistors": "ORGANIC",
    "omiec": "ORGANIC",
    "omiecs": "ORGANIC",
    "perovskite": "INORGANIC",
    "non-fullerene acceptor": "ORGANIC",
    "non fullerene acceptor": "ORGANIC",
    "non-fullerene acceptors": "ORGANIC",
    "non fullerene acceptors": "ORGANIC",
    "dft": "O",
    "density functional theory": "O",
    "side-chain": "POLYMER",
    "side chain": "POLYMER",
    "side-chain engineering": "POLYMER",
    "side chain engineering": "POLYMER",
    "computational materials science": "O",
    "band alignment": "PROP_NAME",
    "bandgap": "PROP_NAME",
    "band gap": "PROP_NAME",
    "pce": "PROP_NAME",
    "power conversion efficiency": "PROP_NAME",
    "mobility": "PROP_NAME",
}
DOMAIN_MULTIWORD_TERMS = {
    term: category
    for term, category in DOMAIN_TERM_CATEGORIES.items()
    if " " in term or "-" in term
}

# --- Keyword sets for the typing cascade (app.py:884-991)
MATERIAL_KEYWORDS = {
    "poly",
    "polymer",
    "film",
    "oxide",
    "perovskite",
    "omiec",
    "oect",
    "ofet",
    "opv",
    "semiconductor",
    "device",
    "thin film",
}

PROPERTY_KEYWORDS = {
    "efficiency",
    "mobility",
    "conductivity",
    "stability",
    "bandgap",
    "lifetime",
    "selectivity",
    "hardness",
    "temperature",
    "yield",
    "current density",
    "open-circuit voltage",
    "voc",
    "fill factor",
    "absorption",
    "emission",
    "thickness",
    "porosity",
    "density",
}

METHOD_KEYWORDS = {
    "annealing",
    "anneal",
    "spin-coating",
    "spin",
    "solution processing",
    "measure",
    "measurement",
    "sputtering",
    "deposition",
    "fabrication",
    "fabricate",
    "printing",
    "casting",
    "exfoliation",
    "synthesis",
    "chemical vapor deposition",
    "catalysis",
    "etching",
    "templating",
    "doping",
    "functionalization",
    "grinding",
    "milling",
}

UNIT_KEYWORDS = {
    "%",
    "v",
    "kv",
    "mv",
    "ma",
    "pa",
    "kpa",
    "mpa",
    "gpa",
    "w",
    "kw",
    "mw",
    "gw",
    "hz",
    "khz",
    "mhz",
    "ghz",
    "s/cm",
    "s/m",
    "cm2/vs",
    "cm²/v·s",
    "ohm",
    "Ω",
    "g/cm3",
    "mg/ml",
    "mah/g",
    "mah g-1",
    "cd/m2",
    "cm-1",
    "nm",
    "mm",
    "cm",
    "pm",
    "um",
    "lm",
    "°c",
    "ev",
    "kj",
    "s-1",
}
UNIT_TERMS = {term.upper() for term in UNIT_KEYWORDS}

# --- Value / unit / material patterns (app.py:1037-1048)
VALUE_PATTERN = re.compile(
    r"^[+-]?\d+(?:\.\d+)?(?:[eE][+-]?\d+)?(?:\s?(?:/|per)?\s?[A-Za-z·°Ω%0-9^\/\-\*]+)?$"
)
SIMPLE_VALUE_PATTERN = re.compile(r"^[+-]?\d+(?:\.\d+)?(?:[eE][+-]?\d+)?%?$")
_UNIT_ALTERNATION = (
    r"%|ppm|ppb|m|cm|mm|nm|pm|km|g|kg|mg|ug|µg|A|mA|V|W|kW|J|K|°C|°F|s|ms|µs|ns"
    r"|Hz|kHz|MHz|GHz|Pa|kPa|MPa|bar|mol|M|nM|µM"
)
VALUE_WITH_UNIT_PATTERN = re.compile(
    r"^[+-]?\d+(?:\.\d+)?\s?(?:" + _UNIT_ALTERNATION + r")(?:[\-\/][A-Za-z]+)?$",
    flags=re.IGNORECASE,
)
UNIT_ONLY_PATTERN = re.compile(r"^[A-Za-z·°Ωµµ/\\-]{1,10}$")
MATERIAL_PATTERN = re.compile(
    r"^(?=.*[A-Za-z])(?=.*[0-9])[A-Za-z0-9\-\+\(\)\/\.·°]{2,}$"
)

# Detector-side scan patterns (ours — the reference relies on a neural model
# for span *detection*; we detect spans deterministically and reuse the
# reference's typing cascade for classification).
VALUE_SPAN_PATTERN = re.compile(
    r"(?<![\w.+-])[+-]?\d+(?:\.\d+)?(?:[eE][+-]?\d+)?"
    r"(?:\s?(?:" + _UNIT_ALTERNATION + r")(?:[\-\/][A-Za-z]+)?(?![\w]))?",
    flags=re.IGNORECASE,
)
MATERIAL_TOKEN_PATTERN = re.compile(
    r"(?<![\w])(?=[A-Za-z0-9\-\+\(\)\/\.·°]*[A-Za-z])"
    r"(?=[A-Za-z0-9\-\+\(\)\/\.·°]*[0-9])"
    r"[A-Za-z0-9][A-Za-z0-9\-\+\(\)\/\.·°]+(?![\w])"
)

# Inorganic clue words inside the typing cascade (app.py:3484)
INORGANIC_CLUES = {"oxide", "perovskite", "sulfide", "nitride"}

# Trailing stopwords stripped from entity tails (app.py:2429-2445)
TRAILING_STOPWORDS = {
    "and",
    "with",
    "was",
    "were",
    "is",
    "are",
    "the",
    "of",
    "for",
    "to",
    "on",
    "in",
    ",",
    "&",
    "and/or",
}
# Fallback verb set used when spaCy is unavailable (app.py:2446)
FALLBACK_VERBS = {"is", "are", "was", "were", "be", "been", "being"}
