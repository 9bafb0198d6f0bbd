#!/usr/bin/env python3
"""Independent reference for the SimHash rows of a graft.Verify dump.

Usage: python3 tools/ref_simhash.py <sfDir> <verifyOutDir> [names...]

Recomputes every document's SimHash signature from <sfDir>/documents.parquet
the way the JVM does, brute-forces every pair at hamming <= 7, and compares
the result with the dumped rows of

  q26_simhash          (doc_a, doc_b, hamming) over the 64-bit signature
  q158_simhash128      (doc_a, doc_b, hamming) over the 128-bit signature
  q145_simhash_recall  (metric, n): banded, exact and hit counts, recall_bp

The banded joins under test equal brute force by pigeonhole (7 bit errors
over 4 chunks leave some chunk with at most one, and every one-bit flip is
probed), so the reference needs no banding. Signature rules:

  tokens   Java String.trim (strips chars <= U+0020), then split("\\s+")
           (ASCII whitespace); empty tokens cast no vote
  word 0   FNV-1a 64 over the token's UTF-16 code units
  word 1   splitmix64 of word 0 (128-bit signature only)
  bit i    set when more token occurrences have it set than clear

Names after the two paths check only those rows. Exits 1 on a mismatch and
2 on a name that is not one of the three rows above or has no dump.
Needs only the standard library and DuckDB (to read parquet).
"""
import glob
import os
import re
import sys

import duckdb

M64 = (1 << 64) - 1
MAX_DIST = 7
JAVA_WS = re.compile(r"[ \t\n\x0b\f\r]+")


def fnv64(token):
    h = 0xcbf29ce484222325
    units = token.encode("utf-16-le")
    for i in range(0, len(units), 2):
        h ^= units[i] | (units[i + 1] << 8)
        h = (h * 0x100000001b3) & M64
    return h


def mix64(z):
    z = (z + 0x9e3779b97f4a7c15) & M64
    z = ((z ^ (z >> 30)) * 0xbf58476d1ce4e5b9) & M64
    z = ((z ^ (z >> 27)) * 0x94d049bb133111eb) & M64
    return z ^ (z >> 31)


def java_tokens(text):
    if text is None:
        return []
    start, end = 0, len(text)
    while start < end and ord(text[start]) <= 0x20:
        start += 1
    while end > start and ord(text[end - 1]) <= 0x20:
        end -= 1
    return [t for t in JAVA_WS.split(text[start:end]) if t]


def simhash(text, words):
    """Signature as an int of 64*words bits, word 0 in the low bits."""
    acc = [0] * (64 * words)
    for tok in java_tokens(text):
        h = fnv64(tok)
        for k in range(words):
            if k:
                h = mix64(h)
            for i in range(64):
                acc[64 * k + i] += 1 if (h >> i) & 1 else -1
    return sum(1 << i for i, a in enumerate(acc) if a > 0)


def brute_pairs(sigs):
    """{(a, b, hamming)} for every a < b at hamming <= MAX_DIST."""
    sigs = sorted(sigs)
    out = set()
    for x, (a, sa) in enumerate(sigs):
        for b, sb in sigs[x + 1:]:
            d = (sa ^ sb).bit_count()
            if d <= MAX_DIST:
                out.add((a, b, d))
    return out


def dumped(con, out_dir, name):
    files = sorted(glob.glob(f"{out_dir}/{name}/*.parquet"))
    if not files:
        return None
    flist = "[" + ", ".join("'" + f.replace("'", "''") + "'" for f in files) + "]"
    return con.execute(f"SELECT * FROM read_parquet({flist})").fetchall()


def main(sf_dir, out_dir, names):
    known = ["q26_simhash", "q145_simhash_recall", "q158_simhash128"]
    names = names or known
    con = duckdb.connect()
    rows = {n: dumped(con, out_dir, n) for n in names if n in known}
    missing = [n for n in names if rows.get(n) is None]
    if missing:
        print("names with no reference or no dump: " +
              ", ".join(f"'{n}'" for n in missing))
        return 2
    docs = con.execute(
        f"SELECT doc_id, text FROM '{sf_dir}/documents.parquet'").fetchall()
    expected = {}
    if {"q26_simhash", "q145_simhash_recall"} & set(names):
        p64 = brute_pairs([(d, simhash(t, 1)) for d, t in docs])
        expected["q26_simhash"] = p64
        n = len(p64)
        expected["q145_simhash_recall"] = {
            ("banded_pairs", n), ("exact_pairs", n), ("hits", n),
            ("recall_bp", 10000 if n else 0)}
    if "q158_simhash128" in names:
        expected["q158_simhash128"] = brute_pairs(
            [(d, simhash(t, 2)) for d, t in docs])
    n_fail = 0
    for name in names:
        got = rows[name]
        exp = expected[name]
        if len(got) == len(exp) and set(got) == exp:
            print(f"PASS     {name}: {len(got)} rows")
            continue
        n_fail += 1
        extra = sorted(set(got) - exp)[:3]
        lost = sorted(exp - set(got))[:3]
        print(f"MISMATCH {name}: dump {len(got)} rows, reference {len(exp)}; "
              f"dump only {extra}, reference only {lost}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    if len(sys.argv) < 3:
        print(__doc__)
        sys.exit(2)
    sys.exit(main(sys.argv[1], sys.argv[2], sys.argv[3:]))
