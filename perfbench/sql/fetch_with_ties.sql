SELECT o_custkey, o_totalprice FROM orders
ORDER BY floor(o_totalprice / 100000) DESC
FETCH FIRST 5 ROWS WITH TIES
