"""Evict files from the page cache and report how much stayed resident.

Usage: python3 perfbench/pagecache.py PATH...   (files or directories)

For every regular file under the paths: fdatasync, then
posix_fadvise(POSIX_FADV_DONTNEED); residency is read with mincore
before and after. Prints one line: "<files> <bytes> <resident fraction
before> <resident fraction after>". Exits nonzero if residency cannot
be read, so the caller records that eviction is unavailable.
"""
import ctypes
import mmap
import os
import sys

_libc = ctypes.CDLL(None, use_errno=True)
_libc.mmap.restype = ctypes.c_void_p
_libc.mmap.argtypes = [ctypes.c_void_p, ctypes.c_size_t, ctypes.c_int,
                       ctypes.c_int, ctypes.c_int, ctypes.c_long]
_libc.munmap.argtypes = [ctypes.c_void_p, ctypes.c_size_t]
_libc.mincore.argtypes = [ctypes.c_void_p, ctypes.c_size_t,
                          ctypes.POINTER(ctypes.c_ubyte)]
_FAILED = ctypes.c_void_p(-1).value


def resident_pages(fd, size):
    """(resident, total) pages of an open file."""
    if size == 0:
        return 0, 0
    addr = _libc.mmap(None, size, mmap.PROT_READ, mmap.MAP_SHARED, fd, 0)
    if addr in (None, _FAILED):
        raise OSError(ctypes.get_errno(), "mmap failed")
    try:
        pages = (size + mmap.PAGESIZE - 1) // mmap.PAGESIZE
        vec = (ctypes.c_ubyte * pages)()
        if _libc.mincore(addr, size, vec) != 0:
            raise OSError(ctypes.get_errno(), "mincore failed")
        return sum(v & 1 for v in vec), pages
    finally:
        _libc.munmap(addr, size)


def files_under(paths):
    for p in paths:
        if os.path.isdir(p):
            for root, _, names in os.walk(p):
                for n in sorted(names):
                    yield os.path.join(root, n)
        elif os.path.isfile(p):
            yield p


def main(paths):
    files = total_bytes = 0
    before = after = pages = 0
    for f in files_under(paths):
        fd = os.open(f, os.O_RDONLY)
        try:
            size = os.fstat(fd).st_size
            r0, n = resident_pages(fd, size)
            os.fdatasync(fd)
            os.posix_fadvise(fd, 0, 0, os.POSIX_FADV_DONTNEED)
            r1, _ = resident_pages(fd, size)
        finally:
            os.close(fd)
        files += 1
        total_bytes += size
        before += r0
        after += r1
        pages += n
    if pages == 0:
        raise SystemExit("pagecache: no file data under the given paths")
    print(files, total_bytes, before / pages, after / pages)


if __name__ == "__main__":
    main(sys.argv[1:])
