"""Unix-sort key-spec parser: ``-k f[.c][,f[.c]][flags]`` → sort Columns.

Reference: MRC/mapreduce/lib/partition/KeyFieldBasedComparator.java:39-56
(spec grammar) + KeyFieldHelper.java (parser) — the Streaming-era
``-k2,2nr`` sort options. Flags: ``n`` = numeric compare, ``r`` =
reverse. Field numbers are 1-based; ``f,f`` means "this field only",
``f`` alone means "field f through end of line".

The translation is *plan construction*: each spec element becomes an
orderBy Column (cast to double for ``n``), so Tungsten does the actual
comparisons — the reference's raw-byte comparator loop is replaced by
codegen'd sorts.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_SPEC_RE = re.compile(
    r"^-?k?(?P<f1>\d+)(?:\.(?P<c1>\d+))?(?:,(?P<f2>\d+)(?:\.(?P<c2>\d+))?)?(?P<flags>[nr]*)$"
)


@dataclass
class KeySpec:
    start_field: int  # 1-based
    end_field: int | None  # inclusive; None = end of line
    start_char: int  # 1-based within start field
    end_char: int | None  # 1-based within end field; None = whole field
    numeric: bool
    reverse: bool

    @classmethod
    def parse(cls, spec: str) -> "KeySpec":
        m = _SPEC_RE.match(spec.strip())
        if not m:
            raise ValueError(f"bad key spec: {spec!r}")
        flags = m.group("flags") or ""
        f2 = m.group("f2")
        return cls(
            start_field=int(m.group("f1")),
            end_field=int(f2) if f2 else None,
            start_char=int(m.group("c1") or 1),
            # an explicit .0 end-char means "through the end of the end
            # field" (KeyFieldHelper.java:148 endChar==0 / unix sort),
            # i.e. the same as omitting it — never substring(key, 1, 0)
            end_char=(int(m.group("c2")) or None) if m.group("c2") else None,
            numeric="n" in flags,
            reverse="r" in flags,
        )

    def column(self, fields: Column, sep: str) -> Column:
        """The sort-key Column this spec extracts from a split-array."""
        if self.end_field is None:
            key = F.concat_ws(sep, F.slice(fields, self.start_field, F.size(fields) - self.start_field + 1))
        elif self.end_field == self.start_field:
            # try_element_at: a line with fewer fields than the spec sorts
            # as null (unix-sort tolerance) instead of throwing under ANSI
            key = F.try_element_at(fields, F.lit(self.start_field))
            if self.end_char is not None:
                key = F.substring(key, 1, self.end_char)
        else:
            key = F.concat_ws(
                sep, F.slice(fields, self.start_field, self.end_field - self.start_field + 1)
            )
            if self.end_char is not None:
                # f2.c2 ends the key at char c2 OF FIELD f2 (unix sort /
                # KeyFieldHelper): truncate the reconstructed span at
                # (chars of fields f1..f2-1 + separators) + c2
                prefix = F.aggregate(
                    F.slice(fields, self.start_field, self.end_field - self.start_field),
                    F.lit(0),
                    lambda a, x: a + F.length(x) + len(sep),
                )
                key = key.substr(F.lit(1), prefix + self.end_char)
        if self.start_char > 1:
            key = F.substring(key, self.start_char, 1 << 30)
        if self.numeric:
            # try_cast: non-numeric fields sort as null, like unix sort -n
            # treats garbage as 0-ish, rather than failing the job (ANSI)
            key = key.try_cast("double")
        return key


def keyspec_sort_columns(specs: list[str], line_col: str, sep: str = "\t") -> list[Column]:
    """Compile ``-k`` specs into orderBy Columns over a delimited line."""
    fields = F.split(F.col(line_col), re.escape(sep))
    cols = []
    for s in specs:
        ks = KeySpec.parse(s)
        c = ks.column(fields, sep)
        cols.append(c.desc() if ks.reverse else c.asc())
    return cols


def keyspec_sort(df: DataFrame, line_col: str, specs: list[str], sep: str = "\t") -> DataFrame:
    """Globally sort lines by the key specs (KeyFieldBasedComparator).

    Uses orderBy → Spark's RangePartitioner samples split points, the
    built-in equivalent of TotalOrderPartitioner + InputSampler
    (lib/partition/TotalOrderPartitioner.java:102, InputSampler.java:314).
    """
    return df.orderBy(*keyspec_sort_columns(specs, line_col, sep))
