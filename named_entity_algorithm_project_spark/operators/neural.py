"""X2/X3 — neural token-classification detection behind the shared
Arrow-UDF interface.

The reference's headline extractor is an HF token-classification pipeline:
load model once (app.py:1249-1416), 512-token chunking with 50-token
overlap (chunk_text, app.py:2854-2943), per-chunk inference with chunk
offsets remapped to document offsets and (start, end, word) dedup across
overlapping chunks (app.py:3707-3755), then the same typing cascade and
post-filters as the deterministic path.

Spark-first shape:

* the model is a PER-WORKER SINGLETON (module-level cache keyed by model
  name — loaded once per executor python worker, reused across Arrow
  batches; the closure only ships the model NAME, never weights);
* inference is BATCHED: all chunks of an Arrow batch go to the model in
  one call (list input — what HF pipelines vectorize over);
* everything downstream of the span list (typing cascade, abbreviation /
  gazetteer / user injections, dedup, post-filters) is the SAME code the
  deterministic detector runs (detector.extract_turn(span_fn=...)), so the
  two detectors differ only in where spans come from.

The sandbox has no torch/transformers, so model name "stub" resolves to a
deterministic fake whose spans reproduce the deterministic scanner — which
makes the integration test sharp: the neural plumbing (chunk → batched
infer → offset remap → dedup) must reproduce the deterministic path's
mentions exactly on texts short enough to avoid chunk-boundary effects,
and within the overlap tolerance on long ones. A real deployment passes
the HF model name; the import is attempted lazily and fails with a clear
message here.
"""

from __future__ import annotations

import re
from typing import Dict, List, Optional, Tuple

import pandas as pd

from ..detector import (
    DEFAULT_CONFIDENCE_THRESHOLD,
    _scan_spans,
    compile_user_patterns,
    extract_turn,
)
from .extract import EXTRACTION_STRUCT, pack_results

# chunk_text's window and overlap, read at call time
MAX_TOKENS = 512
OVERLAP = 50

#: cap on the corpus-global abbreviation harvest (read at call time)
HARVEST_MAX_TOKENS = 100_000

# per-worker singletons: {model_name: callable chunks -> [[span dict]]}
_MODEL_CACHE: Dict[str, object] = {}


_WORD_RE = re.compile(r"\S+")


def chunk_text(text: str, tokenizer=None) -> List[Tuple[int, str]]:
    """[(start_char, chunk_text)] — the reference's chunk_text
    (app.py:2854-2943), both branches:

    * tokenizer branch (app.py:2896-2943) when a tokenizer is supplied and
      tokenizes the text: chunk by TOKEN budget (inner_max = MAX_TOKENS-2
      tokens) with OVERLAP tokens of overlap, char offsets from the
      tokenizer's offset mapping, and the reference's re-encode length
      check (shrink the chunk until
      ``len(tokenizer(chunk, add_special_tokens=True).input_ids) <=
      MAX_TOKENS``). This is the branch that keeps real-model chunks
      within the 512-token window — the word branch over-fills it because
      a word averages >1 subword token.
    * word fallback (app.py:2867-2894) otherwise: inner_max words per
      chunk, OVERLAP words of overlap.

    Deviation from the reference, both branches: every chunk is an EXACT
    SLICE of the original text (word boundaries via regex; token
    boundaries via the offset mapping) instead of ``' '.join(words)`` /
    ``convert_tokens_to_string`` re-synthesis. The re-synthesized string
    can differ from the original in whitespace, so the reference's
    ``text.find``-based start recovery (a) matches the EARLIEST duplicate
    occurrence on repetitive text and (b) never matches at all on
    non-single-space separators — both corrupt the span offset remap.
    Exact slices make ``text[start:start+len(chunk)] == chunk`` hold by
    construction for any whitespace."""
    if not text:
        return [(0, "")]
    max_tokens = MAX_TOKENS
    overlap = max(0, min(OVERLAP, max_tokens // 4))
    inner_max = max_tokens - 2  # reserve for CLS/SEP

    if tokenizer is not None:
        try:
            tokens = tokenizer.tokenize(text)
        except Exception:
            tokens = None
        if tokens is not None:
            if len(tokens) <= inner_max:
                return [(0, text)]
            # a slow (non-fast) HF tokenizer tokenizes fine but raises
            # NotImplementedError on return_offsets_mapping — that must
            # take the word-fallback path, not crash the UDF
            try:
                enc = tokenizer(
                    text, return_offsets_mapping=True, add_special_tokens=False
                )
                offsets = list(enc.get("offset_mapping") or [])
            except Exception:
                offsets = []
            if offsets and len(offsets) != len(tokens):
                # some tokenizers emit special tokens in the encode even
                # with add_special_tokens=False; those ride the offset
                # mapping as zero-width (s == e) entries. Strip them and
                # keep the token-budget branch if the counts then agree —
                # silently degrading to the word fallback would over-fill
                # the 512-token window on real models.
                trimmed = [o for o in offsets if o[0] != o[1]]
                if len(trimmed) == len(tokens):
                    offsets = trimmed
            if len(offsets) == len(tokens):
                return _chunk_by_tokens(
                    text, tokenizer, offsets, max_tokens, inner_max, overlap
                )
            # offset mapping unavailable/inconsistent -> word fallback

    word_spans = [m.span() for m in _WORD_RE.finditer(text)]
    if len(word_spans) <= inner_max:
        return [(0, text)]
    chunks: List[Tuple[int, str]] = []
    start_idx = 0
    while start_idx < len(word_spans):
        end_idx = min(len(word_spans), start_idx + inner_max)
        start_char = word_spans[start_idx][0]
        end_char = word_spans[end_idx - 1][1]
        chunks.append((start_char, text[start_char:end_char]))
        if end_idx == len(word_spans):
            break
        start_idx = max(end_idx - overlap, start_idx + 1)
    return chunks


def _chunk_by_tokens(
    text: str,
    tokenizer,
    offsets: List[Tuple[int, int]],
    max_tokens: int,
    inner_max: int,
    overlap: int,
) -> List[Tuple[int, str]]:
    """Token-budget-true chunking (app.py:2905-2941): walk the token list
    in inner_max windows with `overlap` tokens of overlap; each chunk is
    the original-text slice covering its tokens' offset span; re-encode
    each candidate chunk WITH special tokens and shrink the window until
    it fits max_tokens (slicing at a token boundary can retokenize
    differently once the neighbouring context is gone, so the check is
    load-bearing, not paranoia — app.py:2915-2928).

    Deviation from the reference: chunk boundaries SNAP to word
    boundaries when one exists inside the window (the reference cuts at
    raw subword boundaries, so a chunk can begin/end mid-word — the
    severed fragment then scans as a spurious entity or loses a real
    one). Snapping shrinks end_tok back to the last token that closes a
    word and advances the next start_tok to the first token that opens
    one, so every word lives whole in at least one chunk; mid-word cuts
    survive only when a single word alone exceeds the window."""
    chunks: List[Tuple[int, str]] = []
    total = len(offsets)
    n = len(text)

    def _closes_word(char_e: int) -> bool:
        return char_e >= n or text[char_e].isspace()

    def _opens_word(char_s: int) -> bool:
        return (
            char_s == 0
            or text[char_s - 1].isspace()
            or (char_s < n and text[char_s].isspace())
        )

    start_tok = 0
    while start_tok < total:
        end_tok = min(total, start_tok + inner_max)
        while end_tok - start_tok > 1 and not _closes_word(offsets[end_tok - 1][1]):
            end_tok -= 1
        while True:
            start_char = offsets[start_tok][0]
            end_char = offsets[end_tok - 1][1]
            chunk_str = text[start_char:end_char]
            adjusted = tokenizer(chunk_str, add_special_tokens=True)["input_ids"]
            if len(adjusted) <= max_tokens:
                break
            if end_tok - start_tok <= 1:  # single oversized token: emit as-is
                break
            end_tok -= 1
            while end_tok - start_tok > 1 and not _closes_word(
                offsets[end_tok - 1][1]
            ):
                end_tok -= 1
        chunks.append((start_char, chunk_str))
        if end_tok == total:
            break
        nxt = max(end_tok - overlap, start_tok + 1)
        while nxt < end_tok and not _opens_word(offsets[nxt][0]):
            nxt += 1
        start_tok = nxt
    return chunks


class StubWordPieceTokenizer:
    """Deterministic WordPiece-like tokenizer exercising the token-budget
    chunking branch in-sandbox: every word splits into pieces of at most
    ``piece_len`` characters (continuation pieces prefixed ``##``), so a
    510-word text can far exceed 510 tokens — exactly the real-model
    condition the word fallback over-fills. Implements the HF tokenizer
    surface chunk_text and X8 use: ``tokenize``, callable with
    ``return_offsets_mapping`` / ``add_special_tokens``, ``get_vocab``,
    ``add_tokens``, ``convert_tokens_to_string``, ``__len__``."""

    def __init__(self, piece_len: int = 4):
        self.piece_len = max(1, piece_len)
        self._vocab: Dict[str, int] = {}
        self._ner_added_tokens: List[str] = []

    def _pieces(self, text: str):
        """Yield (token, start, end) over the text."""
        for m in _WORD_RE.finditer(text):
            ws, we = m.span()
            for i, s in enumerate(range(ws, we, self.piece_len)):
                e = min(we, s + self.piece_len)
                tok = text[s:e]
                yield (("##" + tok) if i else tok, s, e)

    def tokenize(self, text: str) -> List[str]:
        return [t for t, _, _ in self._pieces(text)]

    def __call__(self, text: str, return_offsets_mapping: bool = False,
                 add_special_tokens: bool = False) -> dict:
        pieces = list(self._pieces(text))
        n = len(pieces) + (2 if add_special_tokens else 0)
        out = {"input_ids": list(range(n))}
        if return_offsets_mapping:
            out["offset_mapping"] = [(s, e) for _, s, e in pieces]
        return out

    def convert_tokens_to_string(self, tokens: List[str]) -> str:
        words: List[str] = []
        for t in tokens:
            if t.startswith("##") and words:
                words[-1] += t[2:]
            else:
                words.append(t[2:] if t.startswith("##") else t)
        return " ".join(words)

    def __len__(self) -> int:
        return len(self._vocab)

    def get_vocab(self) -> dict:
        return dict(self._vocab)

    def add_tokens(self, tokens: List[str]) -> int:
        added = 0
        for t in tokens:
            if t not in self._vocab:
                self._vocab[t] = len(self._vocab)
                added += 1
        return added


class StubTokenClassifier:
    """Deterministic stand-in for an HF token-classification pipeline.

    Emits HF-shaped predictions ({entity_group, score, word, start, end})
    from the SAME combined-alternation scan the deterministic detector uses
    — so the neural plumbing's output is directly comparable to the
    deterministic path's. Accepts a list of texts (batched call), like an
    HF pipeline, and mirrors the tokenizer vocab-extension surface
    (get_vocab/add_tokens) so X8 exercises real bookkeeping."""

    def __init__(self, tokenizer=None):
        self._vocab: dict = {}
        self._ner_added_tokens: List[str] = []
        # optional tokenizer: None -> chunk_text's word fallback (the
        # model-free default); StubWordPieceTokenizer -> the token-budget
        # branch, the same wiring a real HF pipeline gets
        self.tokenizer = tokenizer

    def get_vocab(self) -> dict:
        return dict(self._vocab)

    def add_tokens(self, tokens: List[str]) -> int:
        added = 0
        for t in tokens:
            if t not in self._vocab:
                self._vocab[t] = len(self._vocab)
                added += 1
        return added

    def __call__(self, texts: List[str]) -> List[List[dict]]:
        out = []
        for text in texts:
            preds = []
            for start, end, word, hint, conf in _scan_spans(text or ""):
                preds.append(
                    {
                        "entity_group": hint,
                        "score": conf,
                        "word": word,
                        "start": start,
                        "end": end,
                    }
                )
            out.append(preds)
        return out


class _HFBatchedPipeline:
    """Thin adapter: HF pipeline -> list-in/list-of-lists-out contract."""

    def __init__(self, model_name: str):
        try:
            from transformers import pipeline  # noqa: F401
        except ImportError as e:  # pragma: no cover - no transformers here
            raise ImportError(
                "transformers/torch are required for neural detection with "
                f"model '{model_name}'; use detector='neural:stub' in this "
                "environment (deterministic fake with identical plumbing)"
            ) from e
        from transformers import pipeline

        self._pipe = pipeline(
            "token-classification",
            model=model_name,
            aggregation_strategy="simple",
        )

    @property
    def tokenizer(self):  # chunk_text's token-budget branch rides this
        return self._pipe.tokenizer

    def __call__(self, texts: List[str]) -> List[List[dict]]:
        if not texts:
            return []
        preds = self._pipe(list(texts), batch_size=32)
        if len(texts) == 1 and (not preds or isinstance(preds[0], dict)):
            # older HF versions return a FLAT prediction list for a
            # single-text call ([] when no entities) — wrap to one batch
            preds = [preds]
        if not isinstance(preds, list) or len(preds) != len(texts):
            # a silent mismatch would desync the chunk->prediction zip
            # downstream (spans quietly attach to the wrong turn)
            raise ValueError(
                f"token-classification pipeline returned "
                f"{len(preds) if isinstance(preds, list) else type(preds)} "
                f"prediction lists for {len(texts)} texts"
            )
        out: List[List[dict]] = []
        for batch in preds:
            rows = []
            for p in batch or []:
                start, end = p.get("start"), p.get("end")
                if start is None or end is None:
                    # slow (non-fast) tokenizers return start/end = None —
                    # a span without char offsets cannot be remapped to the
                    # turn, so it is dropped instead of TypeError-ing the
                    # whole Arrow batch
                    continue
                grp = p.get("entity_group")
                if not grp:
                    # aggregation_strategy="none"-shaped rows (and some
                    # version drift under "first"/"max") label via
                    # `entity` with BIO prefixes instead of `entity_group`
                    grp = str(p.get("entity", "") or "")
                    if grp[:2] in ("B-", "I-"):
                        grp = grp[2:]
                rows.append(
                    {
                        "entity_group": grp,
                        # float() normalizes np.float32 / str scores alike
                        "score": float(p.get("score", 0.0)),
                        "word": p.get("word", ""),
                        "start": int(start),
                        "end": int(end),
                    }
                )
            out.append(rows)
        return out


def get_model(model_name: str):
    """Per-worker model singleton (the reference loads once per process,
    app.py:1249-1416; here once per executor python worker)."""
    if model_name not in _MODEL_CACHE:
        if model_name == "stub":
            _MODEL_CACHE[model_name] = StubTokenClassifier()
        elif model_name == "stub:wordpiece":
            # stub spans + WordPiece-like tokenizer: exercises the
            # token-budget chunking branch without torch/transformers
            _MODEL_CACHE[model_name] = StubTokenClassifier(
                tokenizer=StubWordPieceTokenizer()
            )
        else:
            _MODEL_CACHE[model_name] = _HFBatchedPipeline(model_name)
    return _MODEL_CACHE[model_name]


def ensure_vocab_extension(model, tokens) -> int:
    """X8 — tokenizer vocab extension (app.py:3425-3447 static domain
    tokens; app.py:3676-3686 corpus-discovered abbreviations): add every
    token absent from the vocab (case-insensitive) and not already added,
    resize embeddings when anything was added, and track the added set in
    ``_ner_added_tokens`` exactly like the reference. Idempotent — safe to
    call per Arrow batch on the worker singleton. Returns #added."""
    tok_owner = model
    resize_target = None
    pipe = getattr(model, "_pipe", None)
    if pipe is not None:  # HF adapter: extend the real tokenizer/model
        tok_owner = pipe.tokenizer
        resize_target = pipe.model
    else:
        tok = getattr(model, "tokenizer", None)
        if tok is not None and hasattr(tok, "add_tokens"):
            tok_owner = tok  # stub:wordpiece — extend the tokenizer itself
    vocab = set()
    if hasattr(tok_owner, "get_vocab"):
        vocab = set(tok_owner.get_vocab().keys())
    existing = set(getattr(tok_owner, "_ner_added_tokens", []))
    new_tokens = [
        t
        for t in tokens
        if t and t not in vocab and t.lower() not in vocab and t not in existing
    ]
    if not new_tokens:
        return 0
    num_added = tok_owner.add_tokens(new_tokens)
    if num_added > 0 and resize_target is not None:  # pragma: no cover
        resize_target.resize_token_embeddings(len(tok_owner))
    tok_owner._ner_added_tokens = sorted(existing.union(new_tokens))
    return num_added


def harvest_abbreviation_tokens(transcripts) -> List[str]:
    """Corpus-global abbreviation harvest feeding X8 (the reference
    pre-scans prepared_records for abbreviation_tokens, app.py:3676-3681).

    Spark shape: filter to turns that can define an abbreviation (literal
    parenthesis — the same fast-path predicate preprocess_text uses, pushed
    into the scan), ONE Arrow-batched UDF running the shared
    preprocess_text, explode + distinct. The result is a vocabulary-scale
    dimension (like the canonical map), so collecting it is a broadcast-
    scale judgement call, returned as a sorted list for determinism and
    capped at ``HARVEST_MAX_TOKENS``."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from ..detector import preprocess_text

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def _abbrs(texts: pd.Series) -> pd.Series:
        return texts.map(
            lambda t: sorted(preprocess_text(str(t))[1].keys()) if t else []
        )

    max_tokens = HARVEST_MAX_TOKENS
    rows = (
        transcripts.filter(F.col("text").contains("("))
        .select(F.explode(_abbrs(F.col("text"))).alias("tok"))
        .distinct()
        .sort("tok")  # TakeOrdered with the limit: deterministic prefix
        .limit(max_tokens + 1)
        .collect()
    )
    toks = [r["tok"] for r in rows]
    if len(toks) > max_tokens:
        # pathological corpus: the "vocabulary-scale" assumption broke.
        # Truncate to the lexicographic first max_tokens (deterministic)
        # rather than shipping an unbounded closure to every worker.
        import warnings

        warnings.warn(
            f"abbreviation harvest exceeded HARVEST_MAX_TOKENS={max_tokens}; "
            "truncating to the lexicographic prefix",
            RuntimeWarning,
            stacklevel=2,
        )
        toks = toks[:max_tokens]
    return toks


def spans_from_predictions(
    work_text: str,
    chunks: List[Tuple[int, str]],
    preds_per_chunk: List[List[dict]],
) -> List[Tuple[int, int, str, str, float]]:
    """Remap per-chunk predictions to document offsets with cross-chunk
    (start, end, word) dedup (app.py:3738-3755); sorted like _scan_spans so
    the shared per-type first-only dedup downstream is deterministic.

    Beyond the reference's dedup: EDGE-TOUCHING SPAN SUPPRESSION. A span
    that abuts the cut edge of a chunk (starts at offset 0 of a chunk
    whose predecessor overlaps it, or ends at the last char of a chunk
    whose successor overlaps it) is a truncation artifact — the entity
    phrase was severed by the window, so the model saw "…power conversion"
    or "efficiency of…" and mis-scanned the fragment. The overlap
    guarantees the NEIGHBOR chunk contains the same region away from its
    own edges, so the whole phrase is still found; dropping the edge
    fragment removes the artifact without losing recall (verified:
    restores exact span parity with unchunked extraction end-to-end).
    Suppression only applies across genuinely overlapping boundaries,
    and ONLY when the neighbor chunk fully covers the span's document
    range — a phrase longer than the overlap that straddles a cut exists
    whole in NO chunk, so its severed fragments are the only evidence of
    it and must survive (previously both halves were dropped and the
    entity vanished entirely). Overlap=0 chunking keeps every span."""
    seen = set()
    spans: List[Tuple[int, int, str, str, float]] = []
    n_chunks = len(chunks)
    for i, ((chunk_start, chunk_str), preds) in enumerate(
        zip(chunks, preds_per_chunk)
    ):
        chunk_end = chunk_start + len(chunk_str)
        prev_start = chunks[i - 1][0] if i > 0 else None
        prev_end = (
            chunks[i - 1][0] + len(chunks[i - 1][1]) if i > 0 else None
        )
        next_start = chunks[i + 1][0] if i < n_chunks - 1 else None
        next_end = (
            chunks[i + 1][0] + len(chunks[i + 1][1])
            if i < n_chunks - 1
            else None
        )
        prev_overlaps = prev_end is not None and prev_end > chunk_start
        next_overlaps = next_start is not None and next_start < chunk_end
        for p in preds:
            rel_s = int(p.get("start", 0))
            rel_e = int(p.get("end", 0))
            if rel_s >= rel_e:
                continue
            doc_s = chunk_start + rel_s
            doc_e = chunk_start + rel_e
            # The prev-edge bound is STRICT (doc_e < prev_end): a span that
            # coincides exactly with the overlap window touches a cut edge
            # in BOTH chunks and each neighbor fully covers it — inclusive
            # bounds on both sides would suppress both copies and lose the
            # entity entirely. Strictness on the prev side makes the LATER
            # chunk the designated keeper (the earlier chunk's copy ends at
            # its own edge and is suppressed by the inclusive next-edge
            # rule below).
            if (
                prev_overlaps
                and rel_s == 0
                and prev_start <= doc_s
                and doc_e < prev_end
            ):
                continue
            if (
                next_overlaps
                and rel_e >= len(chunk_str)
                and next_start <= doc_s
                and doc_e <= next_end
            ):
                continue
            s, e = doc_s, doc_e
            word = work_text[s:e]
            key = (s, e, word.lower())
            if key in seen:
                continue
            seen.add(key)
            spans.append(
                (s, e, word, str(p.get("entity_group") or ""), float(p.get("score", 0.0)))
            )
    spans.sort(key=lambda t: (t[0], t[1], t[2].lower()))
    return spans


def neural_span_fn(model) -> "callable":
    """work_text -> spans, via chunk -> ONE batched inference -> remap.
    Chunking uses the model's tokenizer when it has one (token-budget
    branch), else the word fallback."""
    tokenizer = getattr(model, "tokenizer", None)

    def _fn(work_text: str):
        chunks = chunk_text(work_text, tokenizer=tokenizer)
        preds = model([c for _, c in chunks])
        return spans_from_predictions(work_text, chunks, preds)

    return _fn


def neural_extraction_udf(
    model_name: str = "stub",
    confidence_threshold: float = DEFAULT_CONFIDENCE_THRESHOLD,
    user_entities: Optional[List[Tuple[str, str]]] = None,
    added_tokens: Optional[List[str]] = None,
):
    """Arrow-batched extraction UDF with the neural span source. Ships only
    the model NAME (plus the small X8 vocab-extension token list); the
    worker resolves the model through the singleton cache and applies the
    vocab extension idempotently."""
    from pyspark.sql import functions as F

    user_entities = list(user_entities or [])
    added_tokens = list(added_tokens or [])

    @F.pandas_udf(EXTRACTION_STRUCT)
    def _extract(texts: pd.Series) -> pd.DataFrame:
        from ..detector import preprocess_text

        model = get_model(model_name)
        if added_tokens:
            ensure_vocab_extension(model, added_tokens)
        tokenizer = getattr(model, "tokenizer", None)
        patterns = compile_user_patterns(user_entities) if user_entities else None
        # Phase 1 — ONE inference call for the whole Arrow batch: chunk
        # every turn, flatten, infer, regroup. (preprocess_text runs again
        # inside extract_turn; it is regex-cheap next to model inference.)
        work_texts = [
            preprocess_text(str(t))[0] if t is not None and str(t).strip() else ""
            for t in texts
        ]
        all_chunks = [
            chunk_text(w, tokenizer=tokenizer) if w else [] for w in work_texts
        ]
        flat = [c for chunks in all_chunks for _, c in chunks]
        flat_preds = model(flat) if flat else []
        pred_iter = iter(flat_preds)
        spans_per_text = [
            spans_from_predictions(
                w, chunks, [next(pred_iter) for _ in chunks]
            )
            for w, chunks in zip(work_texts, all_chunks)
        ]
        return pack_results(
            extract_turn(
                text,
                confidence_threshold=confidence_threshold,
                user_patterns=patterns,
                span_fn=lambda _wt, _spans=spans: _spans,
            )
            for text, spans in zip(texts, spans_per_text)
        )

    return _extract
