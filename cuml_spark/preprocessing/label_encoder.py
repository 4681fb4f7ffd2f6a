"""LabelEncoder — cuML python/cuml/preprocessing/LabelEncoder.py:37.

Reference: dictionary-encodes a string column to int codes ordered
LEXICOGRAPHICALLY (nvcategory semantics, LabelEncoder.py:122-143); transform
of an unseen label raises KeyError (:145-180).

Spark-native: the fitted dictionary is k rows, broadcast-joined for
transform — never a full-frame window.  (Equivalent to StringIndexer with
stringOrderType='alphabetAsc', but keeping the dict explicit gives exact
control of the unseen-label error and of inverse_transform.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cuml_spark.core.base import Base
from cuml_spark.ops.labels import label_dictionary


class LabelEncoder(Base):
    def __init__(self, handle_unknown: str = "error", **kwargs):
        super().__init__(**kwargs)
        self.handle_unknown = handle_unknown
        self.classes_: list | None = None
        self._dict: DataFrame | None = None
        self._col: str | None = None

    def fit(self, df: DataFrame, col: str) -> "LabelEncoder":
        # the classes_ collect below fills the checkpoint
        self._dict = label_dictionary(df, col).localCheckpoint(eager=False)
        self.classes_ = [r["label"] for r in self._dict.orderBy("code").collect()]
        self._col = col
        return self

    def transform(self, df: DataFrame, col: str | None = None,
                  out_col: str = "code") -> DataFrame:
        if self._dict is None:
            raise RuntimeError("not fitted")
        c = col or self._col
        joined = df.join(
            F.broadcast(self._dict.withColumnRenamed("label", c).withColumnRenamed("code", out_col)),
            on=c, how="left",
        )
        if self.handle_unknown == "error":
            # mirror the reference's KeyError on unseen labels — requires an
            # action; keep it cheap with a limit-1 probe of unmatched rows
            bad = joined.filter(F.col(out_col).isNull()).select(c).limit(1).collect()
            if bad:
                raise KeyError(f"unseen label at transform: {bad[0][0]!r}")
        return joined

    def fit_transform(self, df: DataFrame, col: str, out_col: str = "code") -> DataFrame:
        return self.fit(df, col).transform(df, col, out_col)

    def inverse_transform(self, df: DataFrame, code_col: str = "code",
                          out_col: str | None = None) -> DataFrame:
        if self._dict is None:
            raise RuntimeError("not fitted")
        out = out_col or self._col
        return df.join(
            F.broadcast(
                self._dict.withColumnRenamed("code", code_col).withColumnRenamed("label", out)
            ),
            on=code_col, how="left",
        )
