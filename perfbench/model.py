"""Pure-Python models the benchmark checks the program's outputs against.

``CatalogModel`` replays a command sequence with the documented
semantics of ``catalog.actions.apply_actions`` (within a batch: uploads,
then removes, then category adds, then cascading category removes;
the first upload of a name by ``seq`` wins). The snippet functions
recompute ``operators.snippetize`` windows for one text.
"""

from __future__ import annotations

import math
import re

UPLOAD, REMOVE, ADD_CATEGORY, REMOVE_CATEGORY = 1, 0, 2, 3
VALID_CODES = (UPLOAD, REMOVE, ADD_CATEGORY, REMOVE_CATEGORY)
NUM_SENT, STRIDE, SENT_TOKENS = 5, 3, 8
_SENTENCE_SPLIT = re.compile(r"(?<=[.!?])\s+")


def sentences(text: str, mode: str) -> list[str]:
    if mode == "tokens":
        toks = [t for t in text.split(" ") if t != ""]
        return [
            " ".join(toks[i : i + SENT_TOKENS])
            for i in range(0, len(toks), SENT_TOKENS)
        ]
    return [s.strip() for s in _SENTENCE_SPLIT.split(text) if s.strip()]


def snippets(text: str, mode: str) -> list[tuple[int, str]]:
    """(snippet_id, snippet_text) windows of NUM_SENT sentences, stride
    STRIDE, ids from 1."""
    sents = sentences(text, mode)
    return [
        (start // STRIDE + 1, " ".join(sents[start : start + NUM_SENT]))
        for start in range(0, len(sents), STRIDE)
    ]


def n_snippets(text: str, mode: str = "tokens") -> int:
    return math.ceil(len(sentences(text, mode)) / STRIDE)


class CatalogModel:
    """Live catalog: categories (id -> name) and documents (name -> doc)."""

    def __init__(self, categories: list[tuple[int, str]], documents: list[dict]):
        self.categories = dict(categories)
        self.docs = {d["document_name"]: d for d in documents}

    def apply(self, batch: list[dict]) -> dict[int, str]:
        """Apply one batch; return the audit status of every seq."""
        cmds = sorted(batch, key=lambda c: c["seq"])
        pre = set(self.docs)
        uploads = [c for c in cmds if c["action_code"] == UPLOAD]
        removes = [c for c in cmds if c["action_code"] == REMOVE]
        first: dict[str, dict] = {}
        for c in uploads:
            first.setdefault(c["document_name"], c)
        status = {}
        for c in cmds:
            code = c["action_code"]
            if code not in VALID_CODES:
                status[c["seq"]] = "rejected"
            elif code == UPLOAD and (
                c["document_name"] in pre or first[c["document_name"]] is not c
            ):
                status[c["seq"]] = "duplicate"
            elif code == REMOVE and c["document_name"] not in pre | set(first):
                status[c["seq"]] = "not_found"
            else:
                status[c["seq"]] = "ok"
        for name, c in first.items():
            if name not in pre:
                self.docs[name] = {
                    k: c[k]
                    for k in ("document_id", "document_name", "category_id",
                              "pages")
                }
        for c in removes:
            self.docs.pop(c["document_name"], None)
        for c in cmds:
            if (
                c["action_code"] == ADD_CATEGORY
                and c["category_id"] not in self.categories
                and c["category_name"] not in self.categories.values()
            ):
                self.categories[c["category_id"]] = c["category_name"]
        dropped = {
            c["category_id"] for c in cmds if c["action_code"] == REMOVE_CATEGORY
        }
        for cid in dropped:
            self.categories.pop(cid, None)
        for name in [n for n, d in self.docs.items() if d["category_id"] in dropped]:
            del self.docs[name]
        return status

    def category_snippets(self, category_id: int) -> int:
        return sum(
            n_snippets(p)
            for d in self.docs.values()
            if d["category_id"] == category_id
            for p in d["pages"]
        )

    def doc_snippets(self, name: str) -> int:
        return sum(n_snippets(p) for p in self.docs[name]["pages"])
