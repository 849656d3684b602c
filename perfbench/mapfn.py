"""Map functions that Spark's Python workers import by name.

Kept free of Spark and heavy imports: a worker loads this module to
unpickle the function.
"""


def replicate(doc: dict) -> list:
    """Downstream map fn of the chained kv index: one ``R#<key>`` row
    per upstream emit, carrying the upstream value. An upstream
    tombstone arrives as an empty emit list and un-indexes the doc."""
    return [("R#" + p["index_key"], p["value"]) for p in doc["value"]]
