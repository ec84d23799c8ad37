"""Tokenization (SURVEY.md §2.8 F12/F13/F18).

The reference BERT-tokenizes every snapshot/mention/title with
HuggingFace (s01:404-408,496-501). This module implements the actual
WordPiece algorithm (greedy longest-match-first over a vocabulary,
after BERT's basic tokenization: NFD accent-strip, lowercase,
punctuation isolation, CJK padding — all public, from the BERT paper
and the HF tokenizer docs). The vocabulary resolves in order:

1. `transformers` BertTokenizer, when installed (bit-identical to
   the reference's tokens);
2. a real `vocab.txt` at $TEMPEL_VOCAB_PATH (same file format
   HuggingFace ships — one token per line) through THIS
   implementation, which reproduces BertTokenizer's segmentation;
3. a built-in character-complete mini-vocab (every ASCII letter/
   digit plus common English subwords), so segmentation is still
   genuine greedy WordPiece — just coarser — and detokenize
   round-trips exactly.
"""

from __future__ import annotations

import os
import re
import unicodedata

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = [
    "WordPieceTokenizer",
    "tokenize_udf",
    "detokenize_udf",
    "sentence_chunks",
]

_PUNCT = re.compile(r"[^\w\s]|_", re.UNICODE)

# common English subwords so the builtin vocab's segmentation is not
# purely char-level; single chars below guarantee zero [UNK] on ASCII
_COMMON_PIECES = (
    "the and ing ion tion ation er ed ly es re un in on at or an al "
    "ar en it is to of for ent ment ness able ible ous ive ize ise "
    "ism ist ity ful less over under out up all self ex pre pro anti "
    "inter trans sub super semi non con com per dis mis micro multi"
).split()


class WordPieceTokenizer:
    """Greedy longest-match-first WordPiece with BERT basic
    tokenization — the exact published segmentation rule, so a real
    `vocab.txt` reproduces BertTokenizer's output."""

    def __init__(self, vocab: set[str], unk: str = "[UNK]", max_chars: int = 100):
        self.vocab = vocab
        self.unk = unk
        self.max_chars = max_chars

    @classmethod
    def from_vocab_file(cls, path: str) -> "WordPieceTokenizer":
        with open(path, encoding="utf-8") as f:
            # rstrip CR too: a CRLF vocab.txt would otherwise leave \r
            # on every token and silently tokenize EVERYTHING to [UNK]
            return cls({line.rstrip("\r\n") for line in f if line.rstrip("\r\n")})

    @classmethod
    def builtin(cls) -> "WordPieceTokenizer":
        chars = "abcdefghijklmnopqrstuvwxyz0123456789"
        vocab = {c for c in chars} | {f"##{c}" for c in chars}
        vocab |= set(_COMMON_PIECES) | {f"##{p}" for p in _COMMON_PIECES}
        return cls(vocab)

    # -- basic tokenization (BERT BasicTokenizer, do_lower_case) ------
    @staticmethod
    def _basic(text: str) -> list[str]:
        text = unicodedata.normalize("NFD", (text or "").lower())
        text = "".join(c for c in text if unicodedata.category(c) != "Mn")
        # pad CJK ideographs so each is its own word
        text = "".join(
            f" {c} " if 0x4E00 <= ord(c) <= 0x9FFF else c for c in text
        )
        text = _PUNCT.sub(lambda m: f" {m.group(0)} ", text)
        return text.split()

    def _wordpiece(self, word: str) -> list[str]:
        if len(word) > self.max_chars:
            return [self.unk]
        pieces: list[str] = []
        start = 0
        while start < len(word):
            end = len(word)
            cur = None
            while start < end:
                sub = ("##" if start > 0 else "") + word[start:end]
                if sub in self.vocab:
                    cur = sub
                    break
                end -= 1
            if cur is None:
                return [self.unk]
            pieces.append(cur)
            start = end
        return pieces

    def tokenize(self, text: str) -> list[str]:
        out: list[str] = []
        for word in self._basic(text):
            if word in self.vocab or (len(word) == 1 and not word.isalnum()):
                # punctuation always stands alone (BERT keeps unknown
                # punctuation as its own token, never [UNK])
                out.append(word)
            else:
                out.extend(self._wordpiece(word))
        return out


def _make_tokenizer():
    try:  # pragma: no cover - not installed in this sandbox
        from transformers import BertTokenizer

        t = BertTokenizer.from_pretrained("bert-base-uncased")
        return t.tokenize
    except Exception:  # noqa: BLE001
        pass
    path = os.environ.get("TEMPEL_VOCAB_PATH")
    if path and os.path.exists(path):
        return WordPieceTokenizer.from_vocab_file(path).tokenize
    return WordPieceTokenizer.builtin().tokenize


_tokenize = _make_tokenizer()


@F.pandas_udf(T.ArrayType(T.StringType()))
def tokenize_udf(texts: pd.Series) -> pd.Series:
    """F12: batch tokenizer (Arrow). Model/tokenizer is a per-worker
    module singleton — loaded once per executor process, not per batch
    (the iterator-of-series pattern from SURVEY §2.11)."""
    return texts.map(_tokenize)


@F.pandas_udf(T.StringType())
def detokenize_udf(tokens: pd.Series) -> pd.Series:
    """F13: `##`-piece join back to text (reference misc/utils.py:5-13)."""

    def join(toks) -> str:
        out: list[str] = []
        # Arrow hands arrays in as numpy arrays — `toks or []` raises
        # on multi-element arrays (same guard as sentence_chunks)
        for t in (toks if toks is not None else []):
            if t.startswith("##") and out:
                out[-1] += t[2:]
            else:
                out.append(t)
        return " ".join(out)

    return tokens.map(join)


def sentence_chunks(df: DataFrame, text_col: str, max_words: int = 32) -> DataFrame:
    """F18: split text into ≤max_words passages at sentence boundaries
    (reference src/models/utils/utils.py:70-127, used at s06:113-116).
    Native: split on sentence enders → greedy re-group in a pandas UDF
    only for the budget packing (the data-dependent fold), explode."""

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def pack(sentences: pd.Series) -> pd.Series:
        def fold(sents) -> list[str]:
            chunks: list[str] = []
            cur: list[str] = []
            n = 0
            # Arrow hands arrays in as numpy arrays — `sents or []`
            # raises on multi-element arrays
            for s in (sents if sents is not None else []):
                w = len(s.split())
                if cur and n + w > max_words:
                    chunks.append(" ".join(cur))
                    cur, n = [], 0
                cur.append(s)
                n += w
            if cur:
                chunks.append(" ".join(cur))
            return chunks

        return sentences.map(fold)

    sents = F.filter(
        F.transform(F.split(F.col(text_col), r"(?<=[.!?])\s+"), lambda s: F.trim(s)),
        lambda s: s != "",
    )
    return (
        df.withColumn("_chunks", pack(sents))
        .select("*", F.posexplode("_chunks").alias("chunk_idx", "chunk"))
        .drop("_chunks")
    )
