"""Type system bridge: reference type names / java.sql.Types codes → Spark DDL.

The reference declares schema externally per job as mapping lists with string
type names (Gen A: ETLCoreMappingProcessor.java:157-241) or java.sql.Types
integer codes (Gen B: JdbcTypeHandler.java:40-137).  Here both vocabularies
normalize to Spark DDL strings that feed ``Column.cast``.
"""

from __future__ import annotations

# Gen A string type names (case-insensitive), per the castType switch in
# ETLCoreMappingProcessor.java:157-241.
_NAME_TO_DDL = {
    "string": "string", "varchar": "string", "varchar2": "string",
    "nvarchar": "string", "nvarchar2": "string", "text": "string",
    "char": "string", "nchar": "string", "clob": "string", "nclob": "string",
    "long": "bigint", "bigint": "bigint",
    "integer": "int", "int": "int",
    "smallint": "smallint", "tinyint": "tinyint",
    "double": "double", "float": "double", "real": "float",
    "decimal": "decimal(38,18)", "numeric": "decimal(38,18)",
    "bigdecimal": "decimal(38,18)", "number": "decimal(38,18)",
    "boolean": "boolean", "bit": "boolean",
    "timestamp": "timestamp", "datetime": "timestamp",
    "date": "date",
    "time": "string",  # reference comment slot (ETLCoreMappingProcessor.java:235)
    "binary": "binary", "varbinary": "binary", "blob": "binary",
    "json": "string", "xml": "string",
}

# java.sql.Types integer codes (Gen B, JdbcTypeHandler.java:40-137).
_SQL_TYPE_TO_DDL = {
    1: "string", 12: "string", -1: "string", -9: "string", -15: "string",
    -16: "string", 2005: "string", 2011: "string", 2009: "string",  # CHAR..CLOB/SQLXML
    -7: "boolean", 16: "boolean",            # BIT, BOOLEAN
    -6: "tinyint", 5: "smallint", 4: "int", -5: "bigint",
    7: "float", 6: "double", 8: "double",    # REAL, FLOAT, DOUBLE
    2: "decimal(38,18)", 3: "decimal(38,18)",  # NUMERIC, DECIMAL
    91: "date", 92: "string", 2013: "string",  # DATE, TIME, TIME_WITH_TZ
    93: "timestamp", 2014: "timestamp",        # TIMESTAMP, TIMESTAMP_WITH_TZ
    -2: "binary", -3: "binary", -4: "binary", 2004: "binary",  # BINARY..BLOB
    2003: "array<string>", 2002: "struct<>",   # ARRAY, STRUCT (JDBC passthrough)
    0: "string",                               # NULL
}


def ddl_for(type_name_or_code) -> str:
    """Normalize a reference type declaration to a Spark DDL string.

    Accepts Gen A string names (``"VARCHAR2"``), Gen B integer codes
    (``java.sql.Types.BIGINT == -5``), or already-valid Spark DDL
    (``"decimal(12,2)"`` passes through).  Unknown names pass through
    unchanged, mirroring the reference's unknown-type passthrough
    (ETLCoreMappingProcessor.java:237-240).
    """
    if isinstance(type_name_or_code, int):
        return _SQL_TYPE_TO_DDL.get(type_name_or_code, "string")
    name = str(type_name_or_code).strip()
    low = name.lower()
    if low in _NAME_TO_DDL:
        return _NAME_TO_DDL[low]
    # decimal(p,s) / varchar(n) style declarations
    if low.startswith(("decimal(", "numeric(", "number(")):
        inner = low[low.index("(") :]
        return f"decimal{inner}"
    if low.startswith(("varchar(", "char(", "nvarchar")):
        return "string"
    return name  # assume valid Spark DDL; Spark raises if not

