"""Spark SQL text for generated plans: the one quoting rule for
identifiers and the one for string literals.

A migrated table's plans (the COPY encoder and decoder, the compareDb
hash, the NUL strip and predicate) are generated as SQL expression
text and handed to the JVM whole (`F.expr`, `DataFrame.selectExpr`),
so building them costs a few py4j calls per column instead of one per
Column node.
"""

from __future__ import annotations

#: characters never written between the quotes of a generated literal:
#: the escape character and the quotes (their meaning depends on
#: `spark.sql.parser.escapedStringLiterals`) and the control characters
_SPLICED = frozenset("\\'\"\x7f") | frozenset(map(chr, range(32)))


def ident(name: str) -> str:
    """`name` as one quoted identifier: backticks, with any backtick
    doubled, so a dot, quote or space stays part of the name."""
    return "`" + name.replace("`", "``") + "`"


def lit(s: str) -> str:
    """`s` as a string-valued SQL expression that means the same under
    either `spark.sql.parser.escapedStringLiterals` setting: a
    backslash, quote or control character is spliced in as `chr(n)`,
    never written between quotes. Several pieces join with
    `concat_ws('', ...)`, which constant folding reduces to one literal;
    unlike `concat`, the optimizer's concat flattening leaves it whole,
    so a generated plan folds to the same literals as a Column-built
    one."""
    pieces, run = [], ""
    for ch in s:
        if ch in _SPLICED:
            if run:
                pieces.append(f"'{run}'")
                run = ""
            pieces.append(f"chr({ord(ch)})")
        else:
            run += ch
    if run or not pieces:
        pieces.append(f"'{run}'")
    if len(pieces) == 1:
        return pieces[0]
    return f"concat_ws('', {', '.join(pieces)})"
