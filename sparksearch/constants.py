"""Engine constants pinned to the reference semantics.

Reference: hw3/config.h (SEPARATOR line 59, POSTINGS_IN_BLOCK 41, BLOCK_SIZE 42,
RESULT_NUM 47) and hw3/DataLoader.cpp:302-314 (BM25 constants k1=1.2, b=0.75).
"""

from __future__ import annotations

# --- BM25 (hw3/DataLoader.cpp:302-314) -------------------------------------
BM25_K1 = 1.2
BM25_B = 0.75

# top-k results per query (RESULT_NUM, hw3/config.h:47)
TOP_K = 20

# --- blocked index layout (hw3/config.h:41-43) ------------------------------
POSTINGS_PER_CHUNK = 64          # "POSTINGS_IN_BLOCK" in the reference
BLOCK_SIZE_BYTES = 65536         # BLOCK_SIZE: a block is <= 64 KB
BLOCK_HEADER_BYTES = 4           # uint32 chunk count
# doc ids per (term, bucket) encode group of a built or streamed index:
# bounds every group whatever the term's df (blocks.build_block_index)
BUCKET_SPAN = 2048

# --- tokenizer separator set (hw3/config.h:59, hw2/DataLoader.cpp:33) --------
# The C++ engine treats every *byte* of this string as a separator and keeps
# maximal runs of non-separator bytes as terms; NO lowercasing, NO stemming
# (hw2/DataLoader.cpp:27-70).  The set below is the exact character inventory
# of the reference literal (the '"' appears twice there; deduplicated here).
# Non-ASCII members (U+00B7, U+FF1A, U+201C, U+201D) are treated as whole
# characters by us; the C++ code splits on their UTF-8 bytes, which is
# byte-level-equivalent on ASCII corpora (ours) and documented as a deliberate
# unicode-correct deviation otherwise.
SEPARATOR_CHARS: str = (
    " :;,.\t\x0b\r\n\x0c[]{}()<>+-=*&^%$#@!~`'\"|\\/?"
    "·：“”"
)

_CTRL_ESCAPES = {
    "\t": "\\t",
    "\r": "\\r",
    "\n": "\\n",
    "\x0b": "\\x0B",
    "\x0c": "\\x0C",
}


def separator_regex_class() -> str:
    """A regex character class matching one separator char.

    Built so the same pattern is valid in Java regex (Spark ``split``/
    ``regexp_*``) and RE2 (DuckDB ``regexp_split_to_array``): every ASCII
    punctuation member is backslash-escaped, control chars use \\xNN escapes,
    non-ASCII members are included literally.
    """
    parts = []
    for ch in SEPARATOR_CHARS:
        if ch in _CTRL_ESCAPES:
            parts.append(_CTRL_ESCAPES[ch])
        elif ch == " ":
            parts.append(" ")
        elif ord(ch) < 128:
            parts.append("\\" + ch)
        else:
            parts.append(ch)
    return "[" + "".join(parts) + "]"


SEPARATOR_REGEX = separator_regex_class()

# --- snippets (hw3/config.h:48,62-64) ---------------------------------------
SNIPPETS_RANGE = 50
MAX_SNIPPETS = 200
MIN_KEYWORD = 2
KEYWORD_PERCENT = 0.25

# query modes (hw3/config.h:45-46)
CONJUNCTIVE = "conjunctive"
DISJUNCTIVE = "disjunctive"
