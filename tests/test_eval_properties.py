"""Property-based tests (hypothesis) for the generation-eval family:
rouge_n / rouge_l / bleu_score / bleu_corpus / chrf_score against
independent pure-Python replicas over randomly generated corpora.

The fixed hand cases pin known values; these properties pin the
SEMANTICS (clipped multiset counts, LCS, presence rules, empty-side
null handling) across adversarial corpora: empty docs, repeated
tokens, single-char tokens, identical neighbors.  One corpus per
example feeds all five operators, so the Spark-job count stays small.

Rounding note: replicas use Python round(); the engines round
half-up (F.round / SQL).  The two differ only at exact 7-th-decimal
ties, which are unreachable here -- every score is a ratio whose
reduced denominator divides lcm(1..48)*6 (2-adic valuation <= 2^6),
while a tie requires a denominator divisible by 2^7.
"""

from __future__ import annotations

import math
from collections import Counter

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

TOK = st.sampled_from(["a", "b", "c", "ab", "x", "zz"])
DOC = st.lists(TOK, min_size=0, max_size=12).map(" ".join)
CORPUS = st.lists(DOC, min_size=2, max_size=8)

SETTINGS = settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _toks(text):
    return text.lower().split()


def _grams(seq, n):
    return Counter(tuple(seq[i:i + n]) for i in range(len(seq) - n + 1))


def _clip(ref, cand, n):
    gr, gc = _grams(ref, n), _grams(cand, n)
    ov = sum(min(c, gc[g]) for g, c in gr.items())
    return ov, max(len(ref) - n + 1, 0), max(len(cand) - n + 1, 0)


def _lcs(a, b):
    if not a or not b:
        return 0
    prev = [0] * (len(b) + 1)
    for x in a:
        cur = [0]
        for j in range(1, len(b) + 1):
            cur.append(
                prev[j - 1] + 1 if x == b[j - 1] else max(prev[j], cur[j - 1])
            )
        prev = cur
    return prev[-1]


def _mk(spark, corpus):
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(corpus)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(len(corpus) - 1)],
        "ref_id long, cand_id long",
    )
    return docs, pairs


@SETTINGS
@given(CORPUS)
def test_rouge_n_matches_replica(spark, corpus):
    from uofi_payroll_etl_main_spark.llm.text import rouge_n

    docs, pairs = _mk(spark, corpus)
    for n in (1, 2):
        got = {
            (r["ref_id"], r["cand_id"]): (
                r["n_overlap"], r["n_ref"], r["n_cand"],
                r["precision"], r["recall"], r["f1"],
            )
            for r in rouge_n(docs, pairs, n=n).collect()
        }
        want = {}
        for i in range(len(corpus) - 1):
            ref, cand = _toks(corpus[i]), _toks(corpus[i + 1])
            ov, tr, tc = _clip(ref, cand, n)
            if tr == 0 and tc == 0:
                continue  # presence: either side has an n-gram
            prec = ov / tc if tc else None
            rec = ov / tr if tr else None
            # rouge_n contract: f1 null whenever ITS denominator (P+R)
            # is 0 -- including the defined-but-zero-overlap case
            f1 = (
                round(2 * prec * rec / (prec + rec), 6)
                if prec is not None and rec is not None and prec + rec > 0
                else None
            )
            want[(i, i + 1)] = (
                ov, tr, tc,
                None if prec is None else round(prec, 6),
                None if rec is None else round(rec, 6),
                f1,
            )
        assert got == want, corpus


@SETTINGS
@given(CORPUS)
def test_bleu_sentence_and_corpus_match_replica(spark, corpus):
    from uofi_payroll_etl_main_spark.llm.text import bleu_corpus, bleu_score

    docs, pairs = _mk(spark, corpus)
    max_n = 2
    got = {
        (r["ref_id"], r["cand_id"]): (r["p1"], r["p2"], r["bp"], r["bleu"])
        for r in bleu_score(docs, pairs, max_n=max_n).collect()
    }
    want = {}
    tot = {"pairs": 0, "ref": 0, "cand": 0,
           "ov": [0] * max_n, "cd": [0] * max_n}
    for i in range(len(corpus) - 1):
        ref, cand = _toks(corpus[i]), _toks(corpus[i + 1])
        stats = [_clip(ref, cand, n) for n in range(1, max_n + 1)]
        if stats[0][1] == 0 and stats[0][2] == 0:
            continue
        tot["pairs"] += 1
        tot["ref"] += stats[0][1]
        tot["cand"] += stats[0][2]
        precs = []
        for k, (ov, _, tc) in enumerate(stats):
            tot["ov"][k] += ov
            tot["cd"][k] += tc
            precs.append(ov / tc if tc else 0.0)
        # bp contract: null for an empty candidate (no defined brevity
        # ratio); the score is 0 anyway via the zero 1-gram precision
        bp = (
            1.0
            if stats[0][2] >= stats[0][1]
            else (
                math.exp(1.0 - stats[0][1] / stats[0][2])
                if stats[0][2] > 0
                else None
            )
        )
        bleu = (
            round(bp * math.exp(sum(math.log(p) for p in precs) / max_n), 6)
            if bp is not None and all(p > 0 for p in precs)
            else 0.0
        )
        want[(i, i + 1)] = (
            round(precs[0], 6), round(precs[1], 6),
            None if bp is None else round(bp, 6), bleu,
        )
    assert got == want, corpus

    # corpus form: totals first, then the finish
    if tot["pairs"]:
        c = bleu_corpus(docs, pairs, max_n=max_n).first()
        precs = [
            tot["ov"][k] / tot["cd"][k] if tot["cd"][k] else 0.0
            for k in range(max_n)
        ]
        bp = (
            1.0
            if tot["cand"] >= tot["ref"]
            else (
                math.exp(1.0 - tot["ref"] / tot["cand"])
                if tot["cand"] > 0
                else None
            )
        )
        bleu = (
            round(bp * math.exp(sum(math.log(p) for p in precs) / max_n), 6)
            if bp is not None and all(p > 0 for p in precs)
            else 0.0
        )
        assert (c["n_pairs"], c["ref_tokens"], c["cand_tokens"]) == (
            tot["pairs"], tot["ref"], tot["cand"],
        ), corpus
        assert (c["p1"], c["p2"], c["bp"], c["bleu"]) == (
            round(precs[0], 6), round(precs[1], 6),
            None if bp is None else round(bp, 6), bleu,
        ), corpus


@SETTINGS
@given(CORPUS)
def test_chrf_matches_replica(spark, corpus):
    from uofi_payroll_etl_main_spark.llm.text import chrf_score

    docs, pairs = _mk(spark, corpus)
    max_n, beta = 3, 2.0
    got = {
        (r["ref_id"], r["cand_id"]): (
            r["ref_chars"], r["cand_chars"], r["chrp"], r["chrr"], r["chrf"]
        )
        for r in chrf_score(docs, pairs, max_n=max_n, beta=beta).collect()
    }
    want = {}
    for i in range(len(corpus) - 1):
        ref = "".join(corpus[i].lower().split())
        cand = "".join(corpus[i + 1].lower().split())
        if not ref and not cand:
            continue
        ps, rs = [], []
        for n in range(1, max_n + 1):
            ov, tr, tc = _clip(list(ref), list(cand), n)
            ps.append(ov / tc if tc else 0.0)
            rs.append(ov / tr if tr else 0.0)
        p, r_ = sum(ps) / max_n, sum(rs) / max_n
        f = (
            (1 + beta**2) * p * r_ / (beta**2 * p + r_)
            if p + r_ > 0
            else 0.0
        )
        want[(i, i + 1)] = (
            len(ref), len(cand), round(p, 6), round(r_, 6), round(f, 6)
        )
    assert got == want, corpus


@SETTINGS
@given(CORPUS)
def test_rouge_l_matches_replica(spark, corpus):
    from uofi_payroll_etl_main_spark.llm.text import rouge_l

    docs, pairs = _mk(spark, corpus)
    got = {
        (r["ref_id"], r["cand_id"]): (
            r["lcs"], r["ref_len"], r["cand_len"],
            r["precision"], r["recall"], r["f1"],
        )
        for r in rouge_l(docs, pairs).collect()
    }
    want = {}
    for i in range(len(corpus) - 1):
        ref, cand = _toks(corpus[i]), _toks(corpus[i + 1])
        val = _lcs(ref, cand)
        n, m = len(ref), len(cand)
        prec = val / m if m else None
        rec = val / n if n else None
        f1 = (
            round(2 * prec * rec / (prec + rec), 6)
            if prec is not None and rec is not None and prec + rec > 0
            else (None if prec is None or rec is None else 0.0)
        )
        want[(i, i + 1)] = (
            val, n, m,
            None if prec is None else round(prec, 6),
            None if rec is None else round(rec, 6),
            f1,
        )
    assert got == want, corpus
