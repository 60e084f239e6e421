"""Hash-family column functions shared by the engine and its DuckDB
oracles (``hashing``): each hash has a Spark SQL expression, a DuckDB SQL
string and a pure-Python reference that derive the same integers."""
