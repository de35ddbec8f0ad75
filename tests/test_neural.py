"""X2/X3 neural detection plumbing: chunking with offset remap, per-worker
model singleton, batched stub inference — must reproduce the deterministic
detector exactly (the stub emits the same spans, so any difference is a
chunking/remap/dedup bug)."""

import pandas as pd
import pytest

from named_entity_algorithm_project_spark.detector import extract_turn
from named_entity_algorithm_project_spark.operators.neural import (
    StubTokenClassifier,
    chunk_text,
    get_model,
    neural_span_fn,
)


def _mention_keys(result):
    return [
        (m.entity, m.entity_type, m.start, m.end, m.confidence)
        for m in result.mentions
    ]


def test_chunk_text_short_is_identity():
    assert chunk_text("a short text") == [(0, "a short text")]
    assert chunk_text("") == [(0, "")]


def test_chunk_text_long_offsets_and_overlap():
    words = [f"w{i}" for i in range(1400)]
    text = " ".join(words)
    chunks = chunk_text(text)
    assert len(chunks) >= 3
    covered_words = set()
    for start, chunk in chunks:
        # offset remap invariant: the chunk reads back from the original
        assert text[start : start + len(chunk)] == chunk
        covered_words.update(chunk.split())
    assert covered_words == set(words)  # nothing lost at boundaries
    # consecutive chunks overlap by the 50-word window
    first_words = chunks[0][1].split()
    second_words = chunks[1][1].split()
    assert first_words[-50:] == second_words[:50]


def test_worker_singleton_cached():
    assert get_model("stub") is get_model("stub")


def test_neural_stub_equals_deterministic_short_turns():
    texts = [
        "The PCE of P3HT reached 15.3 % after annealing (ANN) treatment",
        "Results for the organic photovoltaic platform were reproducible.",
        "The bandgap of MAPbI3 reached 1.6 V in this experiment.",
        "",
        None,
    ]
    span_fn = neural_span_fn(StubTokenClassifier())
    for text in texts:
        det = extract_turn(text)
        neu = extract_turn(text, span_fn=span_fn)
        assert _mention_keys(neu) == _mention_keys(det), text
        assert neu.abbreviations == det.abbreviations


def test_neural_long_turn_chunked_equals_unchunked():
    """>510-word turn forces multi-chunk inference; offset remap + overlap
    dedup must reproduce the single-pass deterministic result exactly."""
    sentence = (
        "The power conversion efficiency of P3HT reached 15.3 % while the "
        "bulk heterojunction showed notable mobility under bias conditions. "
    )
    text = sentence * 60  # ~1300 words, several chunks
    det = extract_turn(text)
    neu = extract_turn(text, span_fn=neural_span_fn(StubTokenClassifier()))
    assert len(det.mentions) > 0
    assert _mention_keys(neu) == _mention_keys(det)


def test_pipeline_neural_stub_end_to_end(spark, tmp_path):
    """Full pipeline with detector='neural:stub' must emit the identical
    triple set as the deterministic detector — same plumbing contract a
    real HF model would ride."""
    from named_entity_algorithm_project_spark.datagen import (
        TRANSCRIPTS_SCHEMA,
        generate_rows,
    )
    from named_entity_algorithm_project_spark.pipeline import (
        PipelineConfig,
        run_pipeline,
    )

    rows = generate_rows(n_convs=25, seed=37)
    df = spark.createDataFrame(rows, TRANSCRIPTS_SCHEMA)

    def triple_set(res):
        return {
            (r["subj"], r["pred"], r["obj"], r["conv_id"], r["turn_idx"])
            for r in res.triples.collect()
        }

    det = run_pipeline(
        spark, df, str(tmp_path / "det"),
        config=PipelineConfig(n_buckets=2), resume=False,
    )
    neu = run_pipeline(
        spark, df, str(tmp_path / "neu"),
        config=PipelineConfig(n_buckets=2, detector="neural:stub"),
        resume=False,
    )
    assert triple_set(neu) == triple_set(det)
    assert triple_set(neu)


def test_vocab_extension_bookkeeping():
    """X8 (app.py:3676-3686): case-insensitive vocab check, idempotent
    re-application, _ner_added_tokens tracking."""
    from named_entity_algorithm_project_spark.operators.neural import (
        ensure_vocab_extension,
    )

    model = StubTokenClassifier()
    model.add_tokens(["pce"])  # lowercase form already in base vocab
    added = ensure_vocab_extension(model, ["PCE", "OFET", "BHJ", ""])
    assert added == 2  # PCE skipped (pce in vocab), empty skipped
    assert model._ner_added_tokens == ["BHJ", "OFET"]
    # idempotent: nothing new on replay, tracking unchanged
    assert ensure_vocab_extension(model, ["OFET", "BHJ"]) == 0
    assert model._ner_added_tokens == ["BHJ", "OFET"]
    # incremental extension merges into the tracked set
    assert ensure_vocab_extension(model, ["DSSC"]) == 1
    assert model._ner_added_tokens == ["BHJ", "DSSC", "OFET"]


def test_harvest_abbreviation_tokens(spark):
    """Corpus-global abbreviation harvest: one Arrow UDF over the turns
    that contain a parenthesis, exploded + distinct."""
    from named_entity_algorithm_project_spark.operators.neural import (
        harvest_abbreviation_tokens,
    )

    df = spark.createDataFrame(
        [
            ("c1", 0, "We used power conversion efficiency (PCE) here."),
            ("c1", 1, "The organic field-effect transistor (OFET) worked."),
            ("c2", 0, "power conversion efficiency (PCE) again"),
            ("c2", 1, "no abbreviations in this turn"),
            ("c2", 2, None),
        ],
        "conv_id string, turn_idx int, text string",
    )
    assert harvest_abbreviation_tokens(df) == ["OFET", "PCE"]


def test_pipeline_extend_vocab_runs(spark, tmp_path):
    from named_entity_algorithm_project_spark.datagen import (
        TRANSCRIPTS_SCHEMA,
        generate_rows,
    )
    from named_entity_algorithm_project_spark.pipeline import (
        PipelineConfig,
        run_pipeline,
    )

    rows = generate_rows(n_convs=10, seed=41)
    df = spark.createDataFrame(rows, TRANSCRIPTS_SCHEMA)
    res = run_pipeline(
        spark,
        df,
        str(tmp_path / "x8"),
        config=PipelineConfig(
            n_buckets=2, detector="neural:stub", extend_vocab=True
        ),
        resume=False,
    )
    assert res.triples.count() > 0


def test_hf_model_unavailable_raises_clear_error():
    with pytest.raises(ImportError, match="neural:stub"):
        get_model("dslim/bert-base-NER")


# ---------------------------------------------------------------------------
# X2 tokenizer-true chunking branch (app.py:2896-2943)
# ---------------------------------------------------------------------------


def _wp():
    from named_entity_algorithm_project_spark.operators.neural import (
        StubWordPieceTokenizer,
    )

    return StubWordPieceTokenizer(piece_len=4)


def test_chunk_text_token_branch_respects_token_budget():
    """600 ten-char words = 1800 wordpiece tokens. The word fallback would
    emit a 510-word chunk (= 1530 tokens, 3x the model window — the spans
    in the truncated tail would silently vanish with a real model); the
    token branch must keep every chunk within max_tokens once special
    tokens are added."""
    tok = _wp()
    words = [f"abcdefg{i:03d}" for i in range(600)]
    text = " ".join(words)
    assert len(tok.tokenize(text)) == 1800

    word_chunks = chunk_text(text)  # fallback branch, for contrast
    assert len(tok.tokenize(word_chunks[0][1])) > 512

    chunks = chunk_text(text, tokenizer=tok)
    assert len(chunks) > 1
    for start, chunk in chunks:
        assert text[start : start + len(chunk)] == chunk  # exact remap base
        assert len(tok(chunk, add_special_tokens=True)["input_ids"]) <= 512
    # nothing lost: every word appears in some chunk
    covered = set()
    for _, chunk in chunks:
        covered.update(chunk.split())
    assert covered == set(words)
    # token overlap: consecutive chunks share text
    for (s1, c1), (s2, _c2) in zip(chunks, chunks[1:]):
        assert s2 < s1 + len(c1)


def test_chunk_text_token_branch_short_text_identity():
    tok = _wp()
    assert chunk_text("a short text", tokenizer=tok) == [(0, "a short text")]


def test_chunk_text_token_branch_reencode_shrink_loop():
    """The re-encode length check (app.py:2915-2928): a tokenizer whose
    with-special-tokens encoding inflates beyond naive token count must
    force the chunk window to shrink, never emit an over-budget chunk."""
    tok = _wp()

    class Inflating(type(tok)):
        def __call__(self, text, return_offsets_mapping=False,
                     add_special_tokens=False):
            out = super().__call__(
                text, return_offsets_mapping=return_offsets_mapping,
                add_special_tokens=add_special_tokens,
            )
            if add_special_tokens:  # pretend re-tokenization found 30 more
                out["input_ids"] = out["input_ids"] + list(range(30))
            return out

    inf = Inflating(piece_len=4)
    words = [f"abcdefg{i:03d}" for i in range(600)]
    text = " ".join(words)
    chunks = chunk_text(text, tokenizer=inf)
    for start, chunk in chunks:
        assert len(inf(chunk, add_special_tokens=True)["input_ids"]) <= 512
        assert text[start : start + len(chunk)] == chunk
    covered = set()
    for _, chunk in chunks:
        covered.update(chunk.split())
    assert covered == set(words)


def test_chunk_text_exact_offsets_on_repetitive_text():
    """Duplicate passages: the reference's text.find start recovery locks
    onto the EARLIEST occurrence, remapping later chunks' spans to wrong
    document offsets. Exact-slice chunking must return strictly increasing
    starts that read back from the original text."""
    text = ("the quick brown fox jumps over the lazy dog " * 200).strip()
    for tok in (None, _wp()):
        chunks = chunk_text(text, tokenizer=tok)
        assert len(chunks) > 2, tok
        starts = [s for s, _ in chunks]
        assert starts == sorted(set(starts))  # strictly increasing
        for start, chunk in chunks:
            assert text[start : start + len(chunk)] == chunk
        assert starts[-1] + len(chunks[-1][1]) == len(text)  # reaches the end


def test_chunk_text_exact_offsets_on_irregular_whitespace():
    """Double spaces / newlines: ' '.join re-synthesis never matches the
    original and the sum(len(w)+1) fallback drifts per extra whitespace
    char. Exact slices must read back for any separator."""
    words = [f"tok{i}" for i in range(1200)]
    text = "  ".join(words[:600]) + "\n\n" + "\t".join(words[600:])
    for tok in (None, _wp()):
        chunks = chunk_text(text, tokenizer=tok)
        assert len(chunks) > 1, tok
        for start, chunk in chunks:
            assert text[start : start + len(chunk)] == chunk
        covered = set()
        for _, chunk in chunks:
            covered.update(chunk.split())
        assert covered == set(words)


def test_neural_wordpiece_long_turn_parity():
    """stub:wordpiece forces the token-budget branch on a >510-token turn;
    span parity with the single-pass deterministic detector must hold
    (chunk -> remap -> overlap dedup is offset-exact). Entities sit inside
    filler blocks so no entity phrase straddles a chunk boundary — the one
    artifact chunked inference cannot avoid (the reference's chunked path
    has it too: a phrase cut at a window edge scans differently)."""
    block = (
        "The power conversion efficiency of P3HT reached 15.3 % after "
        "annealing treatment today. " + "filler " * 180
    )
    text = (block * 5).strip()  # ~950 words, ~2400 wordpiece tokens
    model = get_model("stub:wordpiece")
    assert model.tokenizer is not None
    assert len(model.tokenizer.tokenize(text)) > 1500  # multi-chunk for sure
    det = extract_turn(text)
    neu = extract_turn(text, span_fn=neural_span_fn(model))
    assert len(det.mentions) >= 3  # per-turn dedup keeps first occurrences
    assert _mention_keys(neu) == _mention_keys(det)


def test_harvest_abbreviation_tokens_size_guard(spark, monkeypatch):
    """Pathological corpus: the harvest truncates deterministically at
    HARVEST_MAX_TOKENS (lexicographic prefix) with a warning instead of
    shipping an unbounded closure."""
    import warnings

    from named_entity_algorithm_project_spark.operators import neural
    from named_entity_algorithm_project_spark.operators.neural import (
        harvest_abbreviation_tokens,
    )

    df = spark.createDataFrame(
        [
            ("c1", 0, "We used power conversion efficiency (PCE) here."),
            ("c1", 1, "The organic field-effect transistor (OFET) worked."),
            ("c1", 2, "The bulk heterojunction (BHJ) device stack."),
        ],
        "conv_id string, turn_idx int, text string",
    )
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        monkeypatch.setattr(neural, "HARVEST_MAX_TOKENS", 2)
        toks = harvest_abbreviation_tokens(df)
    assert toks == ["BHJ", "OFET"]
    assert any("HARVEST_MAX_TOKENS" in str(w.message) for w in caught)
    # under the cap: untruncated, no warning
    monkeypatch.setattr(neural, "HARVEST_MAX_TOKENS", 10)
    assert harvest_abbreviation_tokens(df) == [
        "BHJ", "OFET", "PCE",
    ]


def test_edge_touching_span_suppression():
    """A span abutting a cut edge of an overlapping chunk is a truncation
    artifact ('power conversion efficiency' severed to 'efficiency') —
    suppressed because the overlapping neighbor sees the phrase whole.
    Terminal edges (document start/end) and non-overlapping boundaries
    keep their spans."""
    from named_entity_algorithm_project_spark.operators.neural import (
        spans_from_predictions,
    )

    text = "aaaa bbbb cccc dddd"
    #       0    5    10   15
    chunks = [(0, "aaaa bbbb cccc"), (5, "bbbb cccc dddd")]  # overlap
    preds = [
        [
            {"entity_group": "X", "score": 0.9, "word": "aaaa", "start": 0, "end": 4},
            # artifact: ends at chunk 0's cut edge
            {"entity_group": "X", "score": 0.9, "word": "cccc", "start": 10, "end": 14},
        ],
        [
            # artifact: starts at chunk 1's cut edge
            {"entity_group": "X", "score": 0.9, "word": "bbbb", "start": 0, "end": 4},
            # real: interior of chunk 1 (also covers chunk 0's dropped region)
            {"entity_group": "X", "score": 0.9, "word": "cccc", "start": 5, "end": 9},
            # real: abuts document end — terminal edge, kept
            {"entity_group": "X", "score": 0.9, "word": "dddd", "start": 10, "end": 14},
        ],
    ]
    spans = spans_from_predictions(text, chunks, preds)
    assert [(s, e, w) for s, e, w, _, _ in spans] == [
        (0, 4, "aaaa"),
        (10, 14, "cccc"),
        (15, 19, "dddd"),
    ]
    # non-overlapping boundary: nothing suppressed
    chunks2 = [(0, "aaaa bbbb"), (10, "cccc dddd")]
    preds2 = [
        [{"entity_group": "X", "score": 0.9, "word": "bbbb", "start": 5, "end": 9}],
        [{"entity_group": "X", "score": 0.9, "word": "cccc", "start": 0, "end": 4}],
    ]
    spans2 = spans_from_predictions(text, chunks2, preds2)
    assert [(s, e, w) for s, e, w, _, _ in spans2] == [
        (5, 9, "bbbb"),
        (10, 14, "cccc"),
    ]


def test_edge_suppression_keeps_straddling_long_entity():
    """A phrase LONGER than the overlap that straddles a cut exists whole
    in no chunk — its severed fragments are the only evidence of it, so
    both must survive (suppression requires the neighbor chunk to fully
    cover the span's document range)."""
    from named_entity_algorithm_project_spark.operators.neural import (
        spans_from_predictions,
    )

    text = "aa bb cc dd ee"
    #       0  3  6  9  12
    chunks = [(0, "aa bb cc"), (6, "cc dd ee")]  # overlap = "cc" [6,8)
    # entity "bb cc dd" [3,11) straddles the cut: chunk 0 sees "bb cc"
    # (ends at its edge), chunk 1 sees "cc dd" (starts at its edge)
    preds = [
        [{"entity_group": "X", "score": 0.9, "word": "bb cc", "start": 3, "end": 8}],
        [{"entity_group": "X", "score": 0.9, "word": "cc dd", "start": 0, "end": 5}],
    ]
    spans = spans_from_predictions(text, chunks, preds)
    # neither fragment is fully covered by the neighbor -> both kept
    assert [(s, e, w) for s, e, w, _, _ in spans] == [
        (3, 8, "bb cc"),
        (6, 11, "cc dd"),
    ]


def test_edge_suppression_overlap_coincident_entity_survives_once():
    """An entity that coincides EXACTLY with the overlap window touches a
    cut edge in both chunks and is fully covered by both neighbors —
    inclusive suppression on both sides would delete it from the document.
    The strict prev-edge bound keeps exactly one copy (the later chunk's)."""
    from named_entity_algorithm_project_spark.operators.neural import (
        spans_from_predictions,
    )

    text = "aaaaaaaaaaaa bbbbbbb cccccccccc"
    #       0           13      21
    chunks = [(0, text[0:20]), (12, text[12:31])]  # overlap [12, 20)
    span = {"entity_group": "X", "score": 0.9, "word": text[13:20]}
    preds = [
        [dict(span, start=13, end=20)],  # ends at chunk 0's edge
        [dict(span, start=1, end=8)],    # same doc range [13,20) in chunk 1
    ]
    spans = spans_from_predictions(text, chunks, preds)
    assert [(s, e) for s, e, _, _, _ in spans] == [(13, 20)]  # kept ONCE

    # the truly edge-coincident case from the review repro: doc span
    # exactly [12, 20) == the whole overlap window
    preds2 = [
        [dict(span, start=12, end=20, word=text[12:20])],
        [dict(span, start=0, end=8, word=text[12:20])],
    ]
    spans2 = spans_from_predictions(text, chunks, preds2)
    assert [(s, e) for s, e, _, _, _ in spans2] == [(12, 20)]


def test_chunk_text_slow_tokenizer_offsets_fallback(monkeypatch):
    """A slow (non-fast) HF tokenizer tokenizes fine but raises on
    return_offsets_mapping — chunk_text must take the word-fallback path
    instead of crashing the UDF."""
    from named_entity_algorithm_project_spark.operators import neural
    from named_entity_algorithm_project_spark.operators.neural import chunk_text

    class _SlowTokenizer:
        def tokenize(self, text):
            return text.split()

        def __call__(self, text, return_offsets_mapping=False,
                     add_special_tokens=False):
            if return_offsets_mapping:
                raise NotImplementedError(
                    "return_offset_mapping is not available with this tokenizer"
                )
            n = len(text.split()) + (2 if add_special_tokens else 0)
            return {"input_ids": list(range(n))}

    text = " ".join(f"w{i:02d}" for i in range(20))
    monkeypatch.setattr(neural, "MAX_TOKENS", 10)
    monkeypatch.setattr(neural, "OVERLAP", 2)
    chunks = chunk_text(text, tokenizer=_SlowTokenizer())
    assert len(chunks) > 1  # word fallback actually chunked
    for start, chunk in chunks:
        assert text[start:start + len(chunk)] == chunk  # exact slices


# ---------------------------------------------------------------------------
# HF adapter contract, via a fake `transformers` module (no torch needed)
# ---------------------------------------------------------------------------


class _FakeHFTokenizer:
    def __init__(self):
        self._vocab = {"the": 0, "device": 1}
        self.added = []

    def get_vocab(self):
        return dict(self._vocab)

    def add_tokens(self, tokens):
        self.added.extend(tokens)
        for t in tokens:
            self._vocab[t] = len(self._vocab)
        return len(tokens)

    def __len__(self):
        return len(self._vocab)


class _FakeHFModel:
    def __init__(self):
        self.resized_to = None

    def resize_token_embeddings(self, n):
        self.resized_to = n


class _FakeHFPipe:
    """Callable standing in for transformers.pipeline(...)'s return."""

    def __init__(self, responses):
        self._responses = responses
        self.tokenizer = _FakeHFTokenizer()
        self.model = _FakeHFModel()
        self.calls = []

    def __call__(self, texts, batch_size=None):
        self.calls.append((list(texts), batch_size))
        return self._responses(list(texts))


def _fake_transformers(monkeypatch, responses):
    import sys
    import types

    pipes = []

    def pipeline(task, model=None, aggregation_strategy=None):
        assert task == "token-classification"
        assert aggregation_strategy == "simple"
        p = _FakeHFPipe(responses)
        pipes.append(p)
        return p

    mod = types.ModuleType("transformers")
    mod.pipeline = pipeline
    monkeypatch.setitem(sys.modules, "transformers", mod)
    return pipes


def test_hf_adapter_list_of_lists_passthrough(monkeypatch):
    from named_entity_algorithm_project_spark.operators.neural import (
        _HFBatchedPipeline,
    )

    pred = {"entity_group": "MATERIAL", "score": 0.9, "word": "P3HT",
            "start": 4, "end": 8}
    _fake_transformers(monkeypatch, lambda texts: [[pred] if t else []
                                                   for t in texts])
    ad = _HFBatchedPipeline("fake/model")
    out = ad(["has P3HT", "", "also P3HT"])
    assert out == [
        [{"entity_group": "MATERIAL", "score": 0.9, "word": "P3HT",
          "start": 4, "end": 8}],
        [],
        [{"entity_group": "MATERIAL", "score": 0.9, "word": "P3HT",
          "start": 4, "end": 8}],
    ]
    assert ad([]) == []


def test_hf_adapter_flat_single_text_normalized(monkeypatch):
    """Older HF versions return a FLAT dict list (or bare []) for a
    single-text call — the adapter must wrap it to one batch, including
    the no-entity case (a bare [] must not desync downstream zips)."""
    from named_entity_algorithm_project_spark.operators.neural import (
        _HFBatchedPipeline,
    )

    pred = {"entity_group": "VALUE", "score": "0.75", "word": "15.3",
            "start": 0, "end": 4}
    _fake_transformers(
        monkeypatch,
        lambda texts: [pred] if texts[0] else [],  # flat shape
    )
    ad = _HFBatchedPipeline("fake/model")
    assert ad(["15.3 percent"]) == [
        [{"entity_group": "VALUE", "score": 0.75, "word": "15.3",
          "start": 0, "end": 4}]
    ]
    assert ad([""]) == [[]]


def test_hf_adapter_length_mismatch_raises(monkeypatch):
    from named_entity_algorithm_project_spark.operators.neural import (
        _HFBatchedPipeline,
    )

    _fake_transformers(monkeypatch, lambda texts: [[]])  # always 1 batch
    ad = _HFBatchedPipeline("fake/model")
    with pytest.raises(ValueError, match="prediction lists for 2 texts"):
        ad(["a", "b"])


def test_hf_adapter_vocab_extension_resizes_embeddings(monkeypatch):
    """X8 resize arm (app.py:3443-3447): extending the HF tokenizer must
    resize the model embeddings to the new vocab size and track
    _ner_added_tokens on the tokenizer."""
    from named_entity_algorithm_project_spark.operators.neural import (
        _HFBatchedPipeline,
        ensure_vocab_extension,
    )

    _fake_transformers(monkeypatch, lambda texts: [[] for _ in texts])
    ad = _HFBatchedPipeline("fake/model")
    added = ensure_vocab_extension(ad, ["PCE", "the", "OFET"])
    assert added == 2  # "the" already in vocab
    assert ad._pipe.tokenizer.added == ["PCE", "OFET"]  # input order
    assert ad._pipe.model.resized_to == 4  # 2 base + 2 added
    assert ad._pipe.tokenizer._ner_added_tokens == ["OFET", "PCE"]
    # idempotent replay
    assert ensure_vocab_extension(ad, ["PCE", "OFET"]) == 0
    assert ad._pipe.model.resized_to == 4


def test_hf_adapter_drops_offsetless_predictions(monkeypatch):
    """Slow (non-fast) tokenizers return start=None/end=None — a span
    without char offsets cannot be remapped to the turn, so the adapter
    drops it (int(None) used to TypeError the whole Arrow batch) while
    keeping every offset-carrying prediction in the same batch."""
    from named_entity_algorithm_project_spark.operators.neural import (
        _HFBatchedPipeline,
    )

    good = {"entity_group": "MATERIAL", "score": 0.9, "word": "P3HT",
            "start": 4, "end": 8}
    bad = {"entity_group": "VALUE", "score": 0.8, "word": "15.3",
           "start": None, "end": None}
    _fake_transformers(monkeypatch, lambda texts: [[bad, good] for _ in texts])
    ad = _HFBatchedPipeline("fake/model")
    assert ad(["has P3HT"]) == [
        [{"entity_group": "MATERIAL", "score": 0.9, "word": "P3HT",
          "start": 4, "end": 8}]
    ]


def test_hf_adapter_entity_key_bio_fallback(monkeypatch):
    """aggregation_strategy="none"-shaped rows (and version drift under
    "first"/"max") label via `entity` with BIO prefixes instead of
    `entity_group`: the adapter strips B-/I- and uses the bare label."""
    from named_entity_algorithm_project_spark.operators.neural import (
        _HFBatchedPipeline,
    )

    rows = [
        {"entity": "B-MATERIAL", "score": 0.9, "word": "P3", "start": 0, "end": 2},
        {"entity": "I-MATERIAL", "score": 0.8, "word": "##HT", "start": 2, "end": 4},
        {"entity": "MISC", "score": 0.7, "word": "x", "start": 5, "end": 6},
    ]
    _fake_transformers(monkeypatch, lambda texts: [list(rows) for _ in texts])
    ad = _HFBatchedPipeline("fake/model")
    out = ad(["P3HT x"])
    assert [p["entity_group"] for p in out[0]] == [
        "MATERIAL", "MATERIAL", "MISC"
    ]


def test_hf_adapter_numpy_float32_scores(monkeypatch):
    """HF pipelines return np.float32 scores under every aggregation
    strategy — normalized to Python float (Arrow chokes on object columns
    of numpy scalars)."""
    import numpy as np

    from named_entity_algorithm_project_spark.operators.neural import (
        _HFBatchedPipeline,
    )

    pred = {"entity_group": "VALUE", "score": np.float32(0.75), "word": "1",
            "start": 0, "end": 1}
    _fake_transformers(monkeypatch, lambda texts: [[pred] for _ in texts])
    ad = _HFBatchedPipeline("fake/model")
    (got,) = ad(["1"])[0:1][0]
    assert isinstance(got["score"], float)
    assert got["score"] == pytest.approx(0.75)


from named_entity_algorithm_project_spark.operators.neural import (  # noqa: E402
    StubWordPieceTokenizer,
)


class _SpecialTokenLeakTokenizer(StubWordPieceTokenizer):
    """Tokenizer that (like several real HF tokenizers) emits its special
    tokens in the encode call EVEN with add_special_tokens=False: the
    offset mapping gains zero-width (0,0) bracketing entries, so its
    length disagrees with tokenize()'s."""

    def __call__(self, text, return_offsets_mapping=False,
                 add_special_tokens=False):
        out = super().__call__(
            text, return_offsets_mapping, add_special_tokens=True
        )
        if return_offsets_mapping:
            out["offset_mapping"] = (
                [(0, 0)] + list(out["offset_mapping"]) + [(0, 0)]
            )
        return out


def test_chunk_text_strips_leaked_special_token_offsets(monkeypatch):
    """The token-budget branch must survive special-token offset leakage
    (zero-width entries stripped, counts re-checked) instead of silently
    degrading to the word fallback — chunks identical to the clean
    tokenizer's."""
    from named_entity_algorithm_project_spark.operators import neural
    from named_entity_algorithm_project_spark.operators.neural import (
        chunk_text,
    )

    text = " ".join(f"characterization{i:04d}" for i in range(300))
    monkeypatch.setattr(neural, "MAX_TOKENS", 128)
    monkeypatch.setattr(neural, "OVERLAP", 16)
    clean = chunk_text(text, tokenizer=StubWordPieceTokenizer(piece_len=4))
    leaky = chunk_text(text, tokenizer=_SpecialTokenLeakTokenizer(piece_len=4))
    assert len(clean) > 1  # the budget branch actually chunked
    assert leaky == clean
    for start, chunk in leaky:
        assert text[start:start + len(chunk)] == chunk


@pytest.mark.parametrize("detector", ["spacy", "neuralstub", "Deterministic"])
def test_unknown_detector_raises(spark, detector):
    from named_entity_algorithm_project_spark.operators.extract import (
        extract_combined,
    )

    df = spark.createDataFrame(
        [("c0", 0, "PCE of P3HT")], "conv_id string, turn_idx int, text string"
    )
    with pytest.raises(ValueError, match="detector"):
        extract_combined(df, detector=detector)
