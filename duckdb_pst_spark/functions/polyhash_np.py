"""The one numpy engine for the portable poly-hash of token spans.

Every MinHash, SimHash and winnowing oracle pins the hash of a span of
``n`` consecutive whitespace tokens joined by single spaces:
poly_hash = fold (acc·31 + codepoint) mod p (functions/portable.py; the
DuckDB oracles write the same fold with list_reduce). ``SpanHasher``
computes it for every span of a document batch in a few numpy passes.
With loc(g) the position of character g within its own document and

    S[k] = Σ_{g<k} code[g]·31^-loc(g)   (mod p, summed over the batch)

the span of characters [a, b) hashes to

    H(a, b) = 31^(loc(b) − 1) · (S[b] − S[a])   (mod p)

because every term then carries 31^(b−1−g), the fold's weight.

Power tables: 31^k and 31^-k are indexed by position within a
document, so they need only as many entries as the longest document,
not the batch. A ``SpanHasher`` keeps them across the batches of a
kernel call and doubles them when a longer document arrives.

Consumers: ``n=3`` word shingles for the MinHash kernels
(operators/dedup.py ``signatures_for``, ``_minhash_band_kernel``,
``q_dedup_keep_best``) and winnowing (operators/text.py
``q_winnowing``); ``n=1`` token hashes for ``_simhash_prod_kernel``.
Each consumer's oracle-parity test pins the values.

Exactness: codepoints < 2^21 < p = 1e9+7, so every product is < p²
≈ 1e18 and the running sum is < L·p for L batch characters: int64 is
exact up to L ≈ 9e9.
"""

from __future__ import annotations

import numpy as np

from duckdb_pst_spark.functions.portable import P_HASH

_INV31 = pow(31, -1, P_HASH)


class SpanHasher:
    """Poly-hashes of token spans, keeping its power tables across
    calls: a kernel makes one and feeds it every batch."""

    def __init__(self) -> None:
        self.pw = np.ones(1, dtype=np.int64)  # 31^k mod p
        self.ipw = np.ones(1, dtype=np.int64)  # 31^-k mod p

    def _powers(self, n: int) -> tuple[np.ndarray, np.ndarray]:
        """(31^k, 31^-k) mod p for at least k < n, doubling the kept
        tables (each doubling is one vectorized multiply by the m-th
        power)."""
        while len(self.pw) < n:
            m = len(self.pw)
            self.pw = np.concatenate([self.pw, self.pw * pow(31, m, P_HASH) % P_HASH])
            self.ipw = np.concatenate(
                [self.ipw, self.ipw * pow(_INV31, m, P_HASH) % P_HASH]
            )
        return self.pw, self.ipw

    def spans(
        self, texts, doc_keys, n: int = 3
    ) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
        """Poly-hashes of every span of ``n`` consecutive tokens in a batch.

        ``texts``: raw text values (None allowed); ``doc_keys``: matching
        per-doc identifiers. Tokens are ``split(" ")`` with empties
        dropped; NULL documents and documents with fewer than ``n`` tokens
        are dropped (no span, as in the JVM path and the DuckDB oracles).
        Returns (kept, nsp, didx, pos, h):
          kept — int64 doc key per kept doc
          nsp  — span count per kept doc (≥ 1)
          didx — kept-doc index (0-based) per span
          pos  — 1-based span position within its doc
          h    — poly-hash of the span text
        Spans are grouped by doc in position order, so segment reductions
        at the exclusive cumsum of ``nsp`` are valid.
        """
        p = P_HASH
        kept, ntok, lens, docs = [], [], [], []
        for key, text in zip(doc_keys, texts):
            if text is None:
                continue
            toks = [t for t in text.split(" ") if t]
            if len(toks) < n:
                continue
            kept.append(key)
            ntok.append(len(toks))
            lens.extend(map(len, toks))
            docs.append(" ".join(toks))
        if not kept:
            z = np.zeros(0, dtype=np.int64)
            return z, z, z, z, z
        # the batch text is every doc followed by one space, so each token
        # starts one past the previous token's end, across doc boundaries
        codes = np.frombuffer(
            (" ".join(docs) + " ").encode("utf-32-le"), dtype=np.uint32
        ).astype(np.int64)
        lens = np.asarray(lens, dtype=np.int64)
        ntok = np.asarray(ntok, dtype=np.int64)
        tstart = np.zeros(len(lens), dtype=np.int64)
        np.cumsum(lens[:-1] + 1, out=tstart[1:])
        dtok = np.zeros(len(kept), dtype=np.int64)  # first token of each doc
        np.cumsum(ntok[:-1], out=dtok[1:])
        dstart = tstart[dtok]
        dlen = np.diff(np.r_[dstart, len(codes)])
        pw, ipw = self._powers(int(dlen.max()))
        loc = np.arange(len(codes), dtype=np.int64) - np.repeat(dstart, dlen)
        s = np.zeros(len(codes) + 1, dtype=np.int64)
        np.cumsum(codes * ipw[loc] % p, out=s[1:])
        nsp = ntok - (n - 1)
        didx = np.repeat(np.arange(len(kept), dtype=np.int64), nsp)
        pos = np.arange(len(didx), dtype=np.int64) - np.repeat(np.cumsum(nsp) - nsp, nsp)
        first = dtok[didx] + pos
        a = tstart[first]
        b = tstart[first + (n - 1)] + lens[first + (n - 1)]
        h = (s[b] - s[a]) % p * pw[b - dstart[didx] - 1] % p
        return np.asarray(kept, dtype=np.int64), nsp, didx, pos + 1, h
