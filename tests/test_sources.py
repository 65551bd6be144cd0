"""Source scans: CoNLL sessionized parser vs a reference-style Python
parse of the same file."""

from __future__ import annotations

import tempfile
from pathlib import Path

CONLL = """-DOCSTART- -X- -X- O

EU NNP B-NP B-ORG
rejects VBZ B-VP O
German JJ B-NP B-MISC
call NN I-NP O

Peter NNP B-NP B-PER
Blackburn NNP I-NP I-PER
"""


def _reference_parse(text: str):
    """The reference's stateful loop (conll2003.py:16-38), verbatim
    semantics: accumulate (token, last col) per sentence, flush on blank."""
    sents, toks, tags = [], [], []
    for line in text.split("\n"):
        if line.startswith("-DOCSTART-"):
            continue
        if line.strip() == "":
            if toks:
                sents.append((list(toks), list(tags)))
                toks, tags = [], []
            continue
        cols = line.strip().split()
        toks.append(cols[0])
        tags.append(cols[-1])
    if toks:
        sents.append((toks, tags))
    return sents


def test_conll_scan_matches_reference_parse(spark):
    from cogie_spark.sources.conll import read_conll

    d = Path(tempfile.mkdtemp(prefix="conll_"))
    (d / "sample.conll").write_text(CONLL)
    got = read_conll(spark, str(d / "sample.conll")).orderBy("sent_id").collect()
    want = _reference_parse(CONLL)
    assert [(list(r["tokens"]), list(r["tags"])) for r in got] == want
