#!/usr/bin/env python3
"""Shape profile of a documents table (doc_id, text), the figures the
corpus_dedup generator (Gen.corpus) is set from:

    python3 perfbench/profile_corpus.py <documents.parquet>

Prints one JSON object with the same keys as the `corpus` entry of
corpus_dedup's PERFBENCH_DETAIL line, plus the vocabulary's token
shares. Needs the duckdb Python package; the benchmark itself does not
run this.
"""
import collections
import json
import sys

import duckdb


def main():
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    rows = duckdb.sql(f"SELECT doc_id, text FROM read_parquet('{sys.argv[1]}')").fetchall()
    words = [t.strip().split() for _, t in rows]
    lens = [len(w) for w in words]
    distinct = [len(set(w)) for w in words]

    def qs(xs):
        # linear interpolation, as Stats.quantile in the benchmark
        s = sorted(xs)
        out = []
        for q in (0.05, 0.25, 0.5, 0.75, 0.95):
            pos = q * (len(s) - 1)
            i = int(pos)
            out.append(s[i] + (pos - i) * (s[min(i + 1, len(s) - 1)] - s[i]))
        return out

    texts = collections.Counter(t for _, t in rows)
    sets = collections.Counter(frozenset(w) for w in words)
    toks = collections.Counter(x for w in words for x in w)
    total = sum(toks.values())
    marker = toks.most_common()[-1][0]
    print(json.dumps({
        "docs": len(rows),
        "vocabulary": len(toks),
        "words_q05_q25_q50_q75_q95": qs(lens),
        "distinct_words_q05_q25_q50_q75_q95": qs(distinct),
        "exact_copy_share": sum(c - 1 for c in texts.values()) / len(rows),
        "same_token_set_share": sum(c - 1 for c in sets.values()) / len(rows),
        "marker": marker,
        "marker_share": sum(marker in w for w in words) / len(rows),
        "token_share_min_max_other_words": [
            min(c for x, c in toks.items() if x != marker) / total,
            max(c for x, c in toks.items() if x != marker) / total],
    }))


if __name__ == "__main__":
    main()
