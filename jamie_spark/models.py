"""Model registry: pluggable joint extractors behind one contract (M1).

The inference stage (jamie_spark.infer) calls
``get_extractor(spec).annotate_sentence(tokens)`` — anything satisfying that
contract slots in. Two providers:

* ``standin`` (default) — the deterministic dictionary/rule tagger
  (jamie_spark.standin). CI and the correctness gates run on this.
* ``torch:<model_dir>`` — the real JaMIE-style artifact: a torch checkpoint +
  tokenizer + ``{ner,mod,rel}2ix.json`` vocab sidecars (reference
  ``clinical_joint.py:470-484`` load sequence). Gated behind an import-try —
  torch/transformers are not in this sandbox, so constructing it raises
  ``NotImplementedError`` with the exact requirements; the surrounding Spark
  plumbing (per-worker load-once, Arrow batching, flat emission) is identical
  and already exercised by the stand-in.

Worker lifecycle: ``get_extractor`` memoizes per (python worker process,
spec) — the reference loads its model once per process
(``clinical_joint.py:484``); on Spark that means once per executor python
worker, amortized over every Arrow batch the worker handles. Model spec
comes from the ``JAMIE_MODEL`` env var (shipped to executors via
``spark.executorEnv.JAMIE_MODEL``) or an explicit argument.
"""

from __future__ import annotations

import os
from typing import Protocol

from .standin import StandInJointExtractor


class JointExtractor(Protocol):
    """The M1 contract (reference model.py:598-780 output shape)."""

    #: WordPiece vocabulary when the provider runs a subword encoder, else
    #: None. The inference stage uses it for the T12 length gate: the
    #: reference gates on SUBWORD count (utils.py:826-842,
    #: ``len(bert_tokenizer.tokenize(...)) <= len_limit - 2``), which word
    #: count only lower-bounds — a 400-word sentence can exceed 510 subwords.
    subword_vocab: set[str] | None

    def annotate_sentence(
        self, tokens: list[str]
    ) -> tuple[list[str], list[str], list[list[str]], list[list[int]]]:
        """tokens -> (ner_bio, mod_tags, rel_lists, head_lists)."""
        ...  # pragma: no cover


def _torch_deps():
    """Import gate for the torch provider — a seam the mock tests patch, so
    the full batched forward/decode path is exercised without the
    dependency. Raises NotImplementedError when torch is absent (this
    sandbox)."""
    try:
        import torch
        import transformers
    except ImportError as exc:
        raise NotImplementedError(
            "torch/transformers are not installed in this environment. "
            "The torch provider needs: model.pt, tokenizer files and "
            "{ner,mod,rel}2ix.json under the model dir (the artifact "
            "layout the reference saves at clinical_joint.py:443-453). "
            "The stand-in provider exercises the identical Spark plumbing."
        ) from exc
    return torch, transformers


MAX_ENCODER_LEN = 512  # BERT position limit (reference bert_max_len)


class BatchedJointExtractor:
    """Shared batched encode -> forward -> realign path (M1/M2 framing).

    Everything that is NOT the model math lives here, executed identically by
    every real-weights provider: WordPiece + de-UNK with explicit word-id
    alignment (T5/T6, reference utils.py:2493-2496), per-batch [CLS]/[SEP]
    framing and padding to the batch max, the B6 sentence mask, the
    over-length backstop, and the subword->word realignment with relation
    anchor remapping (utils.py:1831-1892, eval_joint clinical_joint.py:87-95).
    Subclasses supply three hooks:

    * ``_wordpiece(token)`` — one word -> subword pieces ([UNK] on failure);
    * ``_piece_ids(pieces)`` / ``_special_ids()`` — vocabulary lookup;
    * ``_forward(tok_rows, attn_rows, sent_rows)`` — the batched model call
      over plain rectangular int rows, returning per-live-row
      (subword BIO strings, subword mod strings, rel dict triplets) — the
      reference eval forward contract (model.py:641-709).
    """

    subword_vocab: set[str] | None = None

    # -- subclass hooks ------------------------------------------------------

    def _wordpiece(self, token: str) -> list[str]:  # pragma: no cover
        raise NotImplementedError

    def _piece_ids(self, pieces: list[str]) -> list[int]:  # pragma: no cover
        raise NotImplementedError

    def _special_ids(self) -> tuple[int, int, int]:  # pragma: no cover
        """(cls_id, sep_id, pad_id)."""
        raise NotImplementedError

    def _forward(self, tok_rows, attn_rows, sent_rows):  # pragma: no cover
        raise NotImplementedError

    # -- shared encode -------------------------------------------------------

    def _subwords(self, tokens: list[str]) -> tuple[list[str], list[int]]:
        """Word tokens -> (de-UNK'd subwords, word id per subword).

        Delegates to the test-pinned T5/T6 helpers (subword.py) with the
        subclass ``_wordpiece`` hook as the piecer — ONE implementation of
        the alignment invariants, shared by the reference-parity tests and
        every production provider. An empty piece list falls back to [UNK]
        so de-UNK restores the original surface."""
        from .subword import UNK, restore_unk, tokenize_subwords

        sbw, word_ids = tokenize_subwords(
            tokens, piecer=lambda t: self._wordpiece(t) or [UNK]
        )
        return restore_unk(sbw, word_ids, tokens), word_ids

    # -- shared decode -------------------------------------------------------

    @staticmethod
    def _realign(
        n_words: int,
        full_word_ids: list[int],
        sbw_ner: list[str],
        sbw_mod: list[str],
        rel_triplets: list[dict],
    ) -> tuple[list[str], list[str], list[list[str]], list[list[int]]]:
        """Subword-level predictions -> word-level, [CLS]/[SEP] stripped.

        ``full_word_ids[i]`` is the word index (0 = [CLS], n_words+1 =
        [SEP]) of subword position i. NER from each word's FIRST subword
        (sbwner2ner), modality from its LAST (sbwmod2mod), relation anchors
        from the LAST subword of the model's entity index lists with the
        [CLS] offset removed (sbwrel2head, offset=-1).

        The word-level collapse itself is the test-pinned T10 helper
        (subword.collapse_to_words); this wrapper owns only what the frame
        adds: stripping [CLS]/[SEP], padding short model rows (defensive
        "O"/"_" for providers that return truncated tag rows), converting
        the model's triplet dicts to per-subword relation lists anchored at
        the subject's LAST subword, and dropping triplets anchored on frame
        positions or out of range.
        """
        from .subword import collapse_to_words

        inner = len(full_word_ids) - 2  # subword count without [CLS]/[SEP]
        word_ids = [full_word_ids[i] - 1 for i in range(1, inner + 1)]
        in_ner = [
            sbw_ner[i] if i < len(sbw_ner) else "O"
            for i in range(1, inner + 1)
        ]
        in_mod = [
            sbw_mod[i] if i < len(sbw_mod) else "_"
            for i in range(1, inner + 1)
        ]
        sbw_rels: list[list[str]] = [[] for _ in range(inner)]
        sbw_heads: list[list[int]] = [[] for _ in range(inner)]
        for t in rel_triplets:
            if t["predicate"] == "N" or not t["subject"] or not t["object"]:
                continue
            s_in, o_in = t["subject"][-1] - 1, t["object"][-1] - 1
            if 0 <= s_in < inner and 0 <= o_in < inner:
                sbw_rels[s_in].append(t["predicate"])
                sbw_heads[s_in].append(o_in)
        _, ner, mod, rels, heads = collapse_to_words(
            [""] * inner, word_ids, in_ner, in_mod, sbw_rels, sbw_heads
        )
        # word_ids can end short of n_words when the model row truncated;
        # pad the word-level rows to the sentence's true length
        if len(ner) < n_words:
            pad = n_words - len(ner)
            ner += ["O"] * pad
            mod += ["_"] * pad
            rels += [[] for _ in range(pad)]
            heads += [[] for _ in range(pad)]
        return ner, mod, rels, heads

    def annotate_batch(
        self, batch_tokens: list[list[str]]
    ) -> list[tuple[list[str], list[str], list[list[str]], list[list[int]]]]:
        """One Arrow batch of sentences -> per-sentence (ner, mod, rels,
        heads). Sentences over the encoder limit come back all-O (the T12
        gate upstream already drops them when subword_vocab is set; this is
        the defensive backstop)."""
        cls_id, sep_id, pad_id = self._special_ids()

        from .subword import document_sent_mask

        encoded = []
        for tokens in batch_tokens:
            sbw, word_ids = self._subwords(tokens)
            if len(sbw) + 2 > MAX_ENCODER_LEN:
                encoded.append(None)
                continue
            ids = [cls_id] + self._piece_ids(sbw) + [sep_id]
            full_word_ids = (
                [0] + [w + 1 for w in word_ids] + [len(tokens) + 1]
            )
            # B6: alternating token_type_ids flipping at in-band [SEP]
            # (doc-level trunk mode; all zeros for single-sentence units)
            smask = document_sent_mask(["[CLS]"] + sbw + ["[SEP]"])
            encoded.append((ids, full_word_ids, smask))
        live = [e for e in encoded if e is not None]
        results: dict[int, tuple] = {}
        if live:
            max_len = max(len(ids) for ids, _, _ in live)
            tok_rows, attn_rows, sent_rows = [], [], []
            for ids, _, smask in live:
                pad = max_len - len(ids)
                tok_rows.append(ids + [pad_id] * pad)
                attn_rows.append([1] * len(ids) + [0] * pad)
                sent_rows.append(smask + [0] * pad)
            ner_tags, mod_tags, rel_triplets = self._forward(
                tok_rows, attn_rows, sent_rows
            )
            li = 0
            for bi, e in enumerate(encoded):
                if e is None:
                    continue
                _, full_word_ids, _ = e
                results[bi] = self._realign(
                    len(batch_tokens[bi]),
                    full_word_ids,
                    list(ner_tags[li]),
                    list(mod_tags[li]),
                    list(rel_triplets[li]),
                )
                li += 1
        out = []
        for bi, tokens in enumerate(batch_tokens):
            if bi in results:
                out.append(results[bi])
            else:
                n = len(tokens)
                out.append((["O"] * n, ["_"] * n, [[] for _ in range(n)],
                            [[] for _ in range(n)]))
        return out

    def annotate_sentence(
        self, tokens: list[str]
    ) -> tuple[list[str], list[str], list[list[str]], list[list[int]]]:
        return self.annotate_batch([tokens])[0]


class TorchJointExtractor(BatchedJointExtractor):
    """Real-model provider: the JaMIE joint checkpoint behind the same
    ``annotate_sentence`` contract as the stand-in.

    Load sequence mirrors the reference predict mode
    (``clinical_joint.py:470-484``): tokenizer from the model dir
    (do_lower_case=False, do_basic_tokenize=False,
    tokenize_chinese_chars=False), ``{ner,mod,rel}2ix.json`` sidecars,
    ``torch.load(model.pt)`` in eval mode, fp32 CPU (executors are CPU-only
    unless ``spark.task.resource.gpu.amount`` is set).

    Inference mirrors ``eval_joint`` (``clinical_joint.py:19-102``) with the
    batch boundary being the Arrow batch instead of a DataLoader:

    1. per word: WordPiece + de-UNK, word-id alignment kept explicitly
       (T5/T6, utils.py:2493-2496);
    2. per batch: pad ``[CLS] + subwords + [SEP]`` to the batch max
       (NOT the corpus max — removes the reference's full-corpus max pass);
    3. forward ``model(token_ids, attn_mask.bool, sent_mask.long)`` ->
       (subword BIO strings, subword mod strings, rel dict triplets)
       (``model.py:641-709`` eval path);
    4. realign subword->word: NER from first subword, modality from last,
       relation anchors remapped via the [CLS]-offset word ids, then strip
       the [CLS]/[SEP] words (``utils.py:1831-1892``, eval_joint ``:87-95``).
    """

    def __init__(self, model_dir: str):
        import json
        import os as _os

        torch, transformers = _torch_deps()
        self._torch = torch
        self._tokenizer = transformers.BertTokenizer.from_pretrained(
            model_dir,
            do_lower_case=False,
            do_basic_tokenize=False,
            tokenize_chinese_chars=False,
        )
        self._vocabs = {}
        for name in ("ner2ix", "mod2ix", "rel2ix"):
            with open(_os.path.join(model_dir, f"{name}.json")) as fi:
                self._vocabs[name] = json.load(fi)
        # weights_only=False explicitly: the reference saves the WHOLE
        # pickled module (clinical_joint.py:467 torch.save(model, ...)), and
        # torch >= 2.6 defaults weights_only=True which refuses such
        # artifacts. The model dir is a trusted deployment artifact.
        self._model = torch.load(
            _os.path.join(model_dir, "model.pt"),
            map_location="cpu",
            weights_only=False,
        )
        self._model.eval()
        self.subword_vocab = set(self._tokenizer.get_vocab())

    # -- BatchedJointExtractor hooks -----------------------------------------

    def _wordpiece(self, token: str) -> list[str]:
        return self._tokenizer.tokenize(token)

    def _piece_ids(self, pieces: list[str]) -> list[int]:
        return self._tokenizer.convert_tokens_to_ids(pieces)

    def _special_ids(self) -> tuple[int, int, int]:
        c = self._tokenizer.convert_tokens_to_ids
        return c("[CLS]"), c("[SEP]"), c("[PAD]")

    def _forward(self, tok_rows, attn_rows, sent_rows):
        """Batched torch call: (token_ids long, attn_mask bool, sent_mask
        long) — the reference forward signature (model.py:641-709)."""
        torch = self._torch
        toks_t = torch.tensor(tok_rows, dtype=torch.long)
        attn_t = torch.tensor(attn_rows, dtype=torch.bool)
        sent_t = torch.tensor(sent_rows, dtype=torch.long)
        with torch.no_grad():
            return self._model(toks_t, attn_t, sent_t)


def save_artifacts(model, tokenizer, vocabs: dict, out_dir: str) -> None:
    """S12 SAVE side — persist a deployable model dir in the exact layout
    :class:`TorchJointExtractor` loads.

    Mirrors the reference's end state (clinical_joint.py:443-453 writes
    tokenizer + ``{ner,mod,rel}2ix.json`` + a state_dict, then :466-467
    re-saves ``model.pt`` as the WHOLE pickled module after reloading the
    best weights — the full-module pickle is what predict mode loads at
    :484). Driver-side, tiny; closes the train-offline -> deploy-here loop:
    ``save_artifacts(...)`` then ``JAMIE_MODEL=torch:<out_dir>``.

    ``vocabs`` must carry the three label maps keyed ``ner2ix`` / ``mod2ix``
    / ``rel2ix`` (missing keys are an error — a deploy dir that loads but
    mislabels is worse than one that fails fast).
    """
    import json

    torch, _ = _torch_deps()
    os.makedirs(out_dir, exist_ok=True)
    missing = {"ner2ix", "mod2ix", "rel2ix"} - set(vocabs)
    if missing:
        raise ValueError(f"vocabs missing required keys: {sorted(missing)}")
    torch.save(model, os.path.join(out_dir, "model.pt"))
    tokenizer.save_pretrained(out_dir)
    for name in ("ner2ix", "mod2ix", "rel2ix"):
        with open(os.path.join(out_dir, f"{name}.json"), "w") as fo:
            json.dump(vocabs[name], fo)


def resolve_spec(spec: str | None) -> str:
    """``spec``, else ``JAMIE_MODEL``, else ``standin``.

    The inference stage calls this ON THE DRIVER at plan time and ships the
    result by closure. Reading JAMIE_MODEL inside the worker instead is a
    silent-wrong-model trap: reused executor python workers keep the
    environment they were launched with, so a spec set only in the driver
    process never reaches them and the stand-in runs without a whisper
    (pinned by
    tests/test_models.py::test_torch_spec_without_torch_fails_fast...)."""
    return spec or os.environ.get("JAMIE_MODEL", "standin")


def model_version(spec: str | None = None) -> str:
    """Version string recorded in lineage rows: the stand-in's pinned version
    for 'standin', the full spec otherwise. Resume is keyed on this — a model
    swap must recompute buckets, not skip them."""
    from .standin import MODEL_VERSION

    spec = resolve_spec(spec)
    return MODEL_VERSION if spec == "standin" else spec


_CACHE: dict[str, object] = {}


def get_extractor(spec: str | None = None) -> "JointExtractor":
    """Resolve + memoize an extractor for this python worker process."""
    spec = resolve_spec(spec)
    if spec not in _CACHE:
        if spec == "standin":
            _CACHE[spec] = StandInJointExtractor()
        elif spec.startswith("torch:"):
            _CACHE[spec] = TorchJointExtractor(spec.split(":", 1)[1])
        elif spec.startswith("numpy:"):
            from .npmodel import NumpyJointExtractor

            _CACHE[spec] = NumpyJointExtractor(spec.split(":", 1)[1])
        else:
            raise ValueError(f"unknown model spec: {spec!r}")
    return _CACHE[spec]  # type: ignore[return-value]
