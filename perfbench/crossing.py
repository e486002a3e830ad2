"""The identity Arrow UDF that isolates the JVM-Python boundary cost.

Kept in its own light module: Python workers import it by name when they
unpickle the UDF."""

import pandas as pd


def identity(text: pd.Series) -> pd.Series:
    return text
