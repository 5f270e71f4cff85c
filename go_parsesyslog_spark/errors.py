"""Parse-error taxonomy.

Mirrors the eight sentinel errors of the reference
(``/root/reference/error.go:9-28``).  The Go parser aborts a parse and
returns the sentinel; a distributed engine must never abort the job for
one bad record, so each sentinel becomes a value carried in an
``err_code`` string column (``NULL`` = parsed successfully) and bad rows
are routed to a dead-letter sink instead.

The codes are assigned by the *first failing stage in reference order*
so that the valid/invalid decision boundary — pinned down by the
reference's test corpora — matches byte for byte.
"""

# error.go:10  ErrInvalidPrio — priority not in <0..191> or malformed <PRI>
ERR_INVALID_PRIO = "invalid_prio"
# error.go:13  ErrInvalidProtoVersion — RFC5424 VERSION != 1
ERR_INVALID_PROTO_VERSION = "invalid_proto_version"
# error.go:16  ErrInvalidTimestamp — timestamp failed to parse/validate
ERR_INVALID_TIMESTAMP = "invalid_timestamp"
# error.go:19  ErrParserTypeUnknown — unknown parser type requested
ERR_PARSER_TYPE_UNKNOWN = "parser_type_unknown"
# error.go:22  ErrPrematureEOF — input ended mid-message
ERR_PREMATURE_EOF = "premature_eof"
# error.go:25  ErrWrongFormat — message does not conform to the format
ERR_WRONG_FORMAT = "wrong_format"
# error.go:28  ErrWrongSDFormat — malformed RFC5424 STRUCTURED-DATA
ERR_WRONG_SD_FORMAT = "wrong_sd_format"
# common.go:12 ErrInvalidNumber — ASCII-digit parse failed (empty/non-digit)
ERR_INVALID_NUMBER = "invalid_number"
# rfc5424.go:106 ErrInvalidLength — framed length did not reconcile
ERR_INVALID_LENGTH = "invalid_length"

class ParserTypeUnknown(ValueError):
    """Raised by the registry when an unregistered parser type is requested.

    Mirrors ``ErrParserTypeUnknown`` (/root/reference/error.go:19,
    raised at parsesyslog.go:51).
    """
